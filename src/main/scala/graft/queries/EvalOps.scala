package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.expressions.TopKAggregate
import graft.functions.TextFuncs
import graft.operators.Dedup

/** Round-8 operators: weighted sampling, pipeline self-evaluation and
  * table maintenance — the layer that tells you whether the dedup /
  * quality machinery is WORKING at corpus scale, plus the sampling and
  * compaction passes a 100 TB corpus needs operationally.
  *
  * Reference motivation: the crawler's pipelines are fire-and-forget
  * (`main.py` runs each crawler; quality is whatever lands in
  * Postgres). At 100 TB every one of these needs a measurable
  * counterpart: a weighted sample to eyeball, recall of the cheap
  * near-dup pass against exact truth, classifier calibration before a
  * filter is trusted, and partition compaction so the table doesn't
  * rot into millions of small files. All oracle-checked.
  */
object EvalOps {

  /** Same multiplier family as StatsOps: odd → bijective mod 2^32, so
    * the per-row "uniform" is reproducible integer arithmetic in both
    * engines. +1 keeps the draw strictly positive for the division. */
  private val SampleA = 2246822519L
  private val M32 = 4294967296L

  /** Rows per compaction output group (q204) — a stand-in for the
    * file-size target a real table service uses. */
  private val CompactTarget = 4096L
  // q203's exact-truth eval runs full below this doc count, hash-
  // sampled down to ~this size above it (see the q203 comment)
  private[queries] val EvalSampleMaxDocs = 20000L

  val qs: Seq[Q] = Seq(

    // Priority sampling (Duffield–Lund–Thorup): a fixed-size WEIGHTED
    // sample with an unbiased subset-sum estimator — the sample you
    // want when "pick 50 documents but favor the heavy ones" must
    // also answer "what does the whole corpus weigh". Priority
    // q_i = w_i / u_i with u_i a deterministic per-doc uniform; keep
    // the top k priorities; τ = the (k+1)-th priority; each kept doc
    // estimates its stratum as max(w_i, τ). The top-(k+1) runs as ONE
    // bounded-state TopKAggregate (map-side partials, state ≈ 4(k+1)
    // entries) — never a global sort, never a collect; at 100 TB the
    // sample costs one narrow scan. Ties break by doc_id under the
    // aggregate's (value, id) descending order; the oracle mirrors
    // that exactly.
    Q("q201_priority_sample",
      (s, dir) => {
        val k = 50
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").as("w"),
            (((col("doc_id") * SampleA) % M32) + 1).as("h"))
          .withColumn("priority",
            (col("w") * M32).cast(DoubleType) / col("h").cast(DoubleType))
        val top = base
          .agg(TopKAggregate.topK(col("priority"), col("doc_id"), k + 1)
            .as("top"))
          .select(explode(slice(col("top"), 1, k)).as("e"),
            element_at(col("top"), k + 1).getField("_1").as("tau"))
          .select(col("e._2").as("doc_id"),
            col("e._1").as("priority"), col("tau"))
        top.join(base.select("doc_id", "w"), Seq("doc_id"))
          .select(col("doc_id"), col("w"), col("priority"),
            greatest(col("w").cast(DoubleType), col("tau"))
              .as("est_weight"))
          .orderBy("doc_id")
      },
      Some(s"""WITH p AS (SELECT doc_id, n_chars AS w,
            (doc_id * $SampleA) % $M32 + 1 AS h FROM documents),
          pr AS (SELECT doc_id, w,
              CAST(w * $M32 AS DOUBLE) / CAST(h AS DOUBLE) AS priority
            FROM p),
          r AS (SELECT *, row_number() OVER (
              ORDER BY priority DESC, doc_id DESC) AS rn FROM pr),
          tau AS (SELECT priority AS tau FROM r WHERE rn = 51)
        SELECT doc_id, w, priority,
          greatest(CAST(w AS DOUBLE), tau.tau) AS est_weight
        FROM r, tau WHERE rn <= 50 ORDER BY doc_id""")),

    // Token-mass median document length per source: the length L such
    // that half the source's TOKENS live in documents of length ≤ L —
    // the corpus statistic that drives context-length and packing
    // decisions (a count-median is dominated by tiny docs; token mass
    // is what the trainer actually consumes). One shuffle by source,
    // two window passes inside the partition, then an arg-min struct
    // aggregate picks the crossing row — no global sort.
    Q("q202_token_mass_median",
      (s, dir) => {
        val wCum = Window.partitionBy("source")
          .orderBy("n_chars", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy("source")
        Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            TextFuncs.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(wCum))
          .withColumn("total", sum(col("n_tokens")).over(wTot))
          .filter(col("cum") * 2 >= col("total"))
          .groupBy("source")
          .agg(min(struct(col("n_chars"), col("doc_id"), col("cum"),
            col("total"))).as("m"))
          .select(col("source"),
            col("m.n_chars").as("mass_median_len"),
            col("m.doc_id").as("median_doc_id"),
            col("m.cum").as("cum_tokens"),
            col("m.total").as("total_tokens"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT source, doc_id, n_chars,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS n_tokens
          FROM documents),
        c AS (SELECT source, doc_id, n_chars,
            CAST(sum(n_tokens) OVER (PARTITION BY source
              ORDER BY n_chars, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(sum(n_tokens) OVER (PARTITION BY source)
              AS BIGINT) AS total
          FROM t),
        q AS (SELECT source, n_chars, doc_id, cum, total,
            row_number() OVER (PARTITION BY source
              ORDER BY n_chars, doc_id) AS rn
          FROM c WHERE cum * 2 >= total)
        SELECT source, n_chars AS mass_median_len,
          doc_id AS median_doc_id, cum AS cum_tokens,
          total AS total_tokens
        FROM q WHERE rn = 1 ORDER BY source""")),

    // LSH self-evaluation: recall and precision of the MinHash-LSH
    // candidate pass (q24's exact machinery) against EXACT Jaccard ≥
    // 1/2 ground truth (q183's prefix-filtered join, proven lossless).
    // The evaluation never materializes all pairs: truth comes from
    // the prefix-filtered join, candidates from the band join, and the
    // confusion counts are joins between those two bounded pair sets.
    // This is the query you run before trusting a cheap dedup pass on
    // 100 TB — and it's fully oracle-checked because both sides are.
    //
    // Scale dispatch (r15, from the 10× ScaleProof): the EXACT ground
    // truth is inherently Σ prefix-df² — measured 1.4 GB shuffle /
    // 130 s at the 10× corpus (~100× sf0.1) because near-dup density
    // squares. An evaluation does not need the full corpus: above
    // EvalSampleMaxDocs the recall/precision estimate runs on a
    // deterministic hash-sample of documents (both pair sets
    // restricted to sampled endpoints — a uniform pair subsample), so
    // eval cost is CONSTANT in corpus size while the gate scales
    // (sf0.01/sf0.1 sit below the threshold and stay exact-full).
    Q("q203_lsh_recall",
      (s, dir) => {
        val allDocs = Tables.load(s, dir, "documents")
        // footer-metadata count (no data scan — r15 verdict #5: the
        // previous count() read the corpus once just to size the
        // sample); count() only for non-file-backed frames (tests)
        val nDocs = graft.sources.ParquetStats
          .footerRowCount(s, allDocs).getOrElse(allDocs.count())
        val docs =
          if (nDocs <= EvalSampleMaxDocs) allDocs
          else {
            val k = ((nDocs + EvalSampleMaxDocs - 1) /
              EvalSampleMaxDocs).toInt
            allDocs.filter(
              pmod(xxhash64(col("doc_id")), lit(k)) === 0)
          }
        // ONE shingle frame feeds both the exact-truth pass and the
        // LSH candidate pass (the tokenize+distinct subtree is the
        // shared prefix of both); the pair frames each feed exactly
        // ONE consumer — the confusion counts come from a single
        // full-outer join of the two pair sets (both are distinct on
        // (doc_a, doc_b) by construction), not three separate
        // aggregate jobs cross-joined back together (r15: that shape
        // cost 4 extra jobs and re-read both persisted pair frames)
        val sh = Dedup.shingleSets(docs, DedupOps.K).persist()
        val truth = Dedup.jaccardPrefixFilteredOnShingles(sh, 1, 2)
          .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
        val cand = Dedup.minHashLshOnShingles(sh, DedupOps.NumHashes,
            DedupOps.Bands, maxBucketWidth = DedupOps.MaxBucketWidth)
          .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
        truth.join(cand, Seq("doc_a", "doc_b"), "full")
          .agg(count(col("t")).as("n_true"),
            count(col("c")).as("n_cand"),
            count(when(col("t").isNotNull &&
              col("c").isNotNull, 1)).as("n_hit"))
          .select(col("n_true"), col("n_cand"), col("n_hit"),
            (col("n_hit").cast(DoubleType) /
              col("n_true").cast(DoubleType)).as("recall"),
            (col("n_hit").cast(DoubleType) /
              col("n_cand").cast(DoubleType)).as("precision"))
      },
      Some(s"""WITH ${DedupOps.lshCandidateCtes("documents")},
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          truth AS (SELECT doc_a, doc_b FROM inter
            JOIN sizes na ON doc_a = na.doc_id
            JOIN sizes nb ON doc_b = nb.doc_id
            WHERE 2 * inter >= na.n + nb.n - inter),
          m AS (SELECT
            (SELECT count(*) FROM truth) AS n_true,
            (SELECT count(*) FROM cand) AS n_cand,
            (SELECT count(*) FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit)
        SELECT n_true, n_cand, n_hit,
          CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall,
          CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) AS precision
        FROM m""")),

    // Compaction planning — the table-maintenance pass behind K8's
    // date partitioning: per (event_type, day) partition cell, count
    // the rows (the file-size proxy), then greedily pack consecutive
    // days into output groups of ~CompactTarget rows via an exclusive
    // running sum INSIDE the event_type partition. The plan is pure
    // metadata: one hash aggregate over the fact table, then windows
    // over |partition cells| rows only — at 100 TB the fact scan is
    // the only wide stage, and in a real catalog even that comes from
    // partition statistics (K11) instead.
    Q("q204_compaction_plan",
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.load(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("start_offset",
            coalesce(sum(col("n_rows")).over(w), lit(0L)))
          .withColumn("file_group",
            floor(col("start_offset") / lit(CompactTarget.toDouble))
              .cast("long"))
          .select("event_type", "day", "n_rows", "start_offset",
            "file_group")
          .orderBy("event_type", "day")
      },
      Some(s"""WITH cells AS (SELECT event_type, date_trunc('day', ts) AS day,
            CAST(count(*) AS BIGINT) AS n_rows
          FROM events GROUP BY 1, 2),
        o AS (SELECT event_type, day, n_rows,
            COALESCE(CAST(sum(n_rows) OVER (PARTITION BY event_type
              ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS start_offset
          FROM cells)
        SELECT event_type, day, n_rows, start_offset,
          CAST(floor(start_offset / $CompactTarget.0) AS BIGINT)
            AS file_group
        FROM o ORDER BY event_type, day""")),

    // Classifier calibration: the linear quality model (q178's exact
    // integer milli-logit) bucketed into fixed-width score bins, each
    // bin reporting its size and the empirical rate of a reference
    // label (lang = 'en') — the reliability table you read before
    // trusting a learned filter to gate a corpus. Fixed-width integer
    // bins (not ntile) keep it ONE hash aggregate with no global
    // sort; floor division is spelled identically in both engines so
    // negative logits land in the same bin.
    Q("q205_score_calibration",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(TextOps.qualityLogit.as("s"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"))
          .withColumn("bin",
            floor(col("s") / lit(200.0)).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(col("s")).as("sum_s"))
          .select(col("bin"), col("n"), col("n_pos"),
            (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
              .as("pos_rate"),
            (col("sum_s").cast(DoubleType) / col("n").cast(DoubleType))
              .as("mean_score_milli"))
          .orderBy("bin")
      },
      Some(s"""WITH sc AS (SELECT ${TextOps.qualityLogitSql} AS s,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        b AS (SELECT CAST(floor(s / 200.0) AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS n_pos,
            CAST(sum(s) AS BIGINT) AS sum_s
          FROM sc GROUP BY 1)
        SELECT bin, n, n_pos,
          CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
          CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score_milli
        FROM b ORDER BY bin""")),

    // AUC WITHOUT A GLOBAL SORT: the Mann-Whitney form of ROC-AUC
    // computed from score-LEVEL aggregates — group by distinct score
    // (one hash aggregate over the corpus), then rank the |distinct
    // scores| rows (bounded, same shape as q118's skyline pass) with
    // tie-corrected average ranks in INTEGER arithmetic (×2 to stay
    // integral), and fold to one row. The naive formulation ranks
    // every document globally; this one never sorts more than the
    // score vocabulary. Exact — 2U = Σ n_pos·(2·cum_before + n + 1)
    // − P(P+1); AUC = 2U / (2PN), one double division at the end.
    Q("q206_auc",
      (s, dir) => {
        val g = Tables.load(s, dir, "documents")
          .select(TextOps.qualityLogit.as("s"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"))
          .groupBy("s")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
        // ordered prefix over |distinct scores| rows only — documented
        // bounded single-partition window (cf. q118)
        val w = Window.orderBy("s")
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("cumBefore",
            coalesce(sum(col("n")).over(w), lit(0L)))
          .agg(
            sum(col("npos") * (col("cumBefore") * 2 + col("n") + 1))
              .as("num2"),
            sum(col("npos")).as("p"), sum(col("n")).as("tot"))
          .select(col("p").as("n_pos"),
            (col("tot") - col("p")).as("n_neg"),
            ((col("num2") - col("p") * (col("p") + 1)).cast(DoubleType) /
              (col("p") * (col("tot") - col("p")) * 2).cast(DoubleType))
              .as("auc"))
      },
      Some(s"""WITH sc AS (SELECT ${TextOps.qualityLogitSql} AS s,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        g AS (SELECT s, count(*) AS n, sum(y) AS npos
          FROM sc GROUP BY 1),
        r AS (SELECT s, n, npos,
            COALESCE(sum(n) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
          FROM g),
        a AS (SELECT sum(npos * (cum_before * 2 + n + 1)) AS num2,
            sum(npos) AS p, sum(n) AS tot FROM r)
        SELECT CAST(p AS BIGINT) AS n_pos,
          CAST(tot - p AS BIGINT) AS n_neg,
          CAST(num2 - p * (p + 1) AS DOUBLE)
            / CAST(p * (tot - p) * 2 AS DOUBLE) AS auc
        FROM a""")),

    // Global percentile rank per document WITHOUT a global sort: the
    // corpus ranks by quality score, but ranking 100 TB with a window
    // over everything is a single-partition sort of the world. Instead
    // aggregate to score LEVELS (one hash agg), prefix-sum the
    // |distinct scores| rows (bounded, cf. q206), and BROADCAST-join
    // the per-level average rank back to the fact rows — every doc
    // gets its exact tie-corrected global rank from a dimension-sized
    // lookup. avg_rank_x2 stays integral (×2); the percentile is one
    // double division.
    Q("q207_score_percentile",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), TextOps.qualityLogit.as("s"))
        val g = scored.groupBy("s").agg(count(lit(1)).as("n"))
        val w = Window.orderBy("s")
          .rowsBetween(Window.unboundedPreceding, -1)
        val levels = g
          .withColumn("cumBefore", coalesce(sum(col("n")).over(w), lit(0L)))
          .withColumn("avg_rank_x2",
            col("cumBefore") * 2 + col("n") + 1)
        val total = scored.agg(count(lit(1)).as("tot"))
        scored.join(broadcast(levels.select("s", "avg_rank_x2")), Seq("s"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("s"), col("avg_rank_x2"),
            (col("avg_rank_x2").cast(DoubleType) /
              (col("tot") * 2).cast(DoubleType)).as("pct_rank"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sc AS (SELECT doc_id,
            ${TextOps.qualityLogitSql} AS s FROM documents),
        g AS (SELECT s, count(*) AS n FROM sc GROUP BY 1),
        lv AS (SELECT s,
            COALESCE(sum(n) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
              + n + 1 AS avg_rank_x2
          FROM g),
        t AS (SELECT count(*) AS tot FROM sc)
        SELECT doc_id, s, CAST(avg_rank_x2 AS BIGINT) AS avg_rank_x2,
          CAST(avg_rank_x2 AS DOUBLE) / CAST(tot * 2 AS DOUBLE)
            AS pct_rank
        FROM sc JOIN lv USING (s) CROSS JOIN t ORDER BY doc_id""")),

    // Categorical association (lift) between source and language —
    // the "which domains feed which languages" audit a corpus mix
    // review starts from. One hash aggregate for the joint counts;
    // marginals REAGGREGATE from the joint table (never a second fact
    // scan) and broadcast back. Lift is a single division of exact
    // integer products. (A PMI column — ln(lift) — was measured to
    // differ by 1 ulp between the JVM's Math.log and DuckDB's libm on
    // 6% of cells, so the log stays out of the oracle-checked
    // surface; lift carries the same ordering information exactly.)
    Q("q211_source_lang_lift",
      (s, dir) => {
        val joint = Tables.load(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("nxy"))
          .persist()
        val bySource = joint.groupBy("source").agg(sum("nxy").as("nx"))
        val byLang = joint.groupBy("lang").agg(sum("nxy").as("ny"))
        val total = joint.agg(sum("nxy").as("n"))
        joint.join(broadcast(bySource), "source")
          .join(broadcast(byLang), "lang")
          .crossJoin(broadcast(total))
          .select(col("source"), col("lang"), col("nxy"), col("nx"),
            col("ny"),
            ((col("nxy") * col("n")).cast(DoubleType) /
              (col("nx") * col("ny")).cast(DoubleType)).as("lift"),
            (col("nxy") * col("n") > col("nx") * col("ny"))
              .as("over_represented"))
          .orderBy("source", "lang")
      },
      Some("""WITH j AS (SELECT source, lang, count(*) AS nxy
          FROM documents GROUP BY 1, 2),
        mx AS (SELECT source, sum(nxy) AS nx FROM j GROUP BY 1),
        my AS (SELECT lang, sum(nxy) AS ny FROM j GROUP BY 1),
        t AS (SELECT sum(nxy) AS n FROM j)
        SELECT source, lang, CAST(nxy AS BIGINT) AS nxy,
          CAST(nx AS BIGINT) AS nx, CAST(ny AS BIGINT) AS ny,
          CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE) AS lift,
          nxy * n > nx * ny AS over_represented
        FROM j JOIN mx USING (source) JOIN my USING (lang)
        CROSS JOIN t ORDER BY source, lang""")),

    // Quantile normalization across sources: each document's quality
    // score is replaced by the GLOBAL score at the same quantile the
    // doc occupies WITHIN ITS SOURCE — the cross-domain feature
    // normalization that makes per-source score distributions
    // comparable before a single threshold gates the mix. Entirely
    // integer: within-source rank r of n_s (one per-source window),
    // target global rank q = ceil(r·N/n_s) by integer cross-
    // multiplication, and the inverse empirical CDF is a lambda scan
    // over the BROADCAST score-level array (|distinct scores| entries
    // — the bounded vocabulary, cf. q206/q207) — no fact-sized join,
    // no floats anywhere.
    Q("q212_quantile_normalize",
      (s, dir) => {
        val sc = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextOps.qualityLogit.as("s"))
        val wr = Window.partitionBy("source").orderBy("s", "doc_id")
        val ranked = sc
          .withColumn("r", row_number().over(wr).cast("long"))
          .withColumn("ns",
            count(lit(1)).over(Window.partitionBy("source")))
        val g = sc.groupBy("s").agg(count(lit(1)).as("n"))
        val wCum = Window.orderBy("s")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lvArr = g.withColumn("cum", sum(col("n")).over(wCum))
          .agg(sort_array(collect_list(struct(col("s"), col("cum"))))
            .as("arr"))
        val tot = sc.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(lvArr)).crossJoin(broadcast(tot))
          .withColumn("q",
            expr("(r * n + ns - 1) div ns"))
          .withColumn("s_norm",
            expr("filter(arr, x -> x.cum >= q)[0].s"))
          .select("doc_id", "source", "s", "q", "s_norm")
          .orderBy("doc_id")
      },
      Some(s"""WITH sc AS (SELECT doc_id, source,
            ${TextOps.qualityLogitSql} AS s FROM documents),
        r AS (SELECT doc_id, source, s,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY s, doc_id) AS BIGINT) AS r,
            count(*) OVER (PARTITION BY source) AS ns
          FROM sc),
        g AS (SELECT s, count(*) AS n FROM sc GROUP BY 1),
        lv AS (SELECT s, sum(n) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM g),
        t AS (SELECT count(*) AS n FROM sc),
        tgt AS (SELECT doc_id, source, s, r, ns,
            (r * t.n + ns - 1) // ns AS q FROM r, t)
        SELECT doc_id, source, s, q,
          (SELECT min(lv.s) FROM lv WHERE lv.cum >= tgt.q) AS s_norm
        FROM tgt ORDER BY doc_id"""))
  ,

    // Two-sample Kolmogorov–Smirnov drift per source: D = sup over the
    // value domain of |F_source − F_rest| for the doc-length
    // distribution — the distribution-free test that flags a source
    // whose documents stopped looking like the corpus (scraper broke,
    // boilerplate flooded in, truncation bug). The sup is computed as
    // an INTEGER cross-multiplied numerator max |cum1·n2 − cum2·n1|
    // (denominator n1·n2), so the statistic is exact — the only float
    // is the final mirrored division. Shape: one corpus aggregate to
    // |source × distinct-length| counts, a dimension-sized grid
    // (sources × lengths, both bounded domains — lengths are ints,
    // sources a catalog), two cumulative windows over that grid, one
    // roll-up. Nothing after the first aggregate scales with corpus
    // size.
    Q("q218_ks_drift",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("source"), col("n_chars").as("v"))
        val counts = docs.groupBy("source", "v")
          .agg(count(lit(1)).as("c"))
        val vals = docs.select(col("v")).distinct()
        val srcs = docs.groupBy("source").agg(count(lit(1)).as("n1"))
        val tot = srcs.agg(sum(col("n1")).as("n")) // 1-row, broadcast below
        val grid = srcs.crossJoin(broadcast(vals))
          .join(counts, Seq("source", "v"), "left")
          .na.fill(0L, Seq("c"))
        val allCum = docs.groupBy("v").agg(count(lit(1)).as("ca"))
        val wS = Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wA = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cumAll = allCum.select(col("v"),
          sum(col("ca")).over(wA).as("cumall"))
        grid
          .withColumn("cum1", sum(col("c")).over(wS))
          .join(broadcast(cumAll), Seq("v"))
          .crossJoin(broadcast(tot))
          .withColumn("cum2", col("cumall") - col("cum1"))
          .withColumn("n2", col("n") - col("n1"))
          .withColumn("num",
            abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .groupBy("source", "n1", "n2")
          .agg(max(col("num")).as("d_num"))
          .select(col("source"), col("n1"), col("n2"), col("d_num"),
            (col("d_num").cast(DoubleType) /
              (col("n1") * col("n2")).cast(DoubleType)).as("d"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, n_chars AS v FROM documents),
        counts AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
        vals AS (SELECT DISTINCT v FROM d),
        srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n1
          FROM d GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        grid AS (SELECT s.source, s.n1, va.v, coalesce(c.c, 0) AS c
          FROM srcs s CROSS JOIN vals va
          LEFT JOIN counts c ON c.source = s.source AND c.v = va.v),
        cum1 AS (SELECT source, n1, v,
            sum(c) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
          FROM grid),
        call AS (SELECT v, sum(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS cnt
            FROM d GROUP BY 1)),
        j AS (SELECT c1.source, c1.n1, t.n - c1.n1 AS n2,
            abs(c1.cum1 * (t.n - c1.n1)
              - (ca.cumall - c1.cum1) * c1.n1) AS num
          FROM cum1 c1 JOIN call ca ON c1.v = ca.v, tot t)
        SELECT source, n1, n2, CAST(max(num) AS BIGINT) AS d_num,
          CAST(max(num) AS DOUBLE)
            / CAST(n1 * n2 AS DOUBLE) AS d
        FROM j GROUP BY 1, 2, 3 ORDER BY source""")),

    // Classifier evaluation — confusion matrix and the derived
    // metrics (accuracy, precision, recall, F1, MCC) for a
    // deterministic predictor: the sign of the JL projection's first
    // coordinate (q230's exact fixed-point machinery) against the
    // parity of the embedding label. Every metric is one or two
    // double operations over exact BIGINT counts — F1 via the
    // single-division 2tp/(2tp+fp+fn) form, MCC's sqrt is
    // IEEE-correctly-rounded on both engines. One scan + a 1-row
    // reduce.
    Q("q240_confusion_metrics",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val pred = graft.operators.Similarity
          .randomProject(emb, "vec_id", "embedding", outDims = 1,
            dim = 64)
          .select(col("vec_id"), col("bit").as("pred"))
        val j = pred.join(
          emb.select(col("vec_id"), (col("label") % 2 === 0).as("truth")),
          Seq("vec_id"))
        val c = j.agg(
          sum(when(col("pred") && col("truth"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && !col("truth"), 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L))
            .as("tn"),
          sum(when(!col("pred") && col("truth"), 1L).otherwise(0L))
            .as("fn"))
        c.select(col("tp"), col("fp"), col("tn"), col("fn"),
          ((col("tp") + col("tn")).cast(DoubleType) /
            (col("tp") + col("fp") + col("tn") + col("fn"))
              .cast(DoubleType)).as("accuracy"),
          (col("tp").cast(DoubleType) /
            (col("tp") + col("fp")).cast(DoubleType)).as("precision"),
          (col("tp").cast(DoubleType) /
            (col("tp") + col("fn")).cast(DoubleType)).as("recall"),
          ((col("tp") * 2).cast(DoubleType) /
            (col("tp") * 2 + col("fp") + col("fn")).cast(DoubleType))
            .as("f1"),
          ((col("tp") * col("tn") - col("fp") * col("fn"))
            .cast(DoubleType) /
            sqrt(((col("tp") + col("fp")) * (col("tp") + col("fn")) *
              (col("tn") + col("fp")) * (col("tn") + col("fn")))
              .cast(DoubleType))).as("mcc"))
      },
      Some("""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        sgn AS (SELECT i.i,
            CASE WHEN (strpos('0123456789abcdef',
                substr(md5('rp|0|' || i.i), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS s
          FROM generate_series(0, 63) i(i)),
        p0 AS (SELECT e.vec_id,
            sum(CAST(floor(e.e * 1073741824.0 * s.s) AS BIGINT)) > 0
              AS pred
          FROM ex e JOIN sgn s ON s.i = e.i - 1 GROUP BY 1),
        jj AS (SELECT p.pred, (l.label % 2 = 0) AS truth
          FROM p0 p JOIN embeddings l ON l.vec_id = p.vec_id),
        c AS (SELECT
            CAST(count(CASE WHEN pred AND truth THEN 1 END)
              AS BIGINT) AS tp,
            CAST(count(CASE WHEN pred AND NOT truth THEN 1 END)
              AS BIGINT) AS fp,
            CAST(count(CASE WHEN NOT pred AND NOT truth THEN 1 END)
              AS BIGINT) AS tn,
            CAST(count(CASE WHEN NOT pred AND truth THEN 1 END)
              AS BIGINT) AS fn
          FROM jj)
        SELECT tp, fp, tn, fn,
          CAST(tp + tn AS DOUBLE) / CAST(tp + fp + tn + fn AS DOUBLE)
            AS accuracy,
          CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
          CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
          CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE)
            AS f1,
          CAST(tp * tn - fp * fn AS DOUBLE) /
            sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
              AS DOUBLE)) AS mcc
        FROM c""")),

    // Feature selection by Gini impurity — score each of the 16 JL
    // sign bits as a split of the label-parity target: weighted Gini
    // of the two sides, best (lowest) first. All counts exact BIGINT;
    // the impurity is a FIXED sequence of double ops (the q135
    // fixed-op-sequence rule) mirrored token-for-token by the oracle,
    // so the scores AND the ranking hash-match. One embeddings scan,
    // one 16-group aggregate.
    Q("q245_gini_features",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val bits = graft.operators.Similarity
          .randomProject(emb, "vec_id", "embedding", outDims = 16,
            dim = 64)
          .select(col("vec_id"), col("j"), col("bit"))
        val jd = bits.join(
          emb.select(col("vec_id"), (col("label") % 2 === 0).as("y")),
          Seq("vec_id"))
        val c = jd.groupBy("j").agg(
          sum(when(col("bit"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("bit") && col("y"), 1L).otherwise(0L)).as("a1"),
          sum(when(!col("bit"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("bit") && col("y"), 1L).otherwise(0L)).as("a0"))
        val g1 = lit(1.0) -
          ((col("a1") * col("a1") +
            (col("n1") - col("a1")) * (col("n1") - col("a1")))
            .cast(DoubleType) /
            (col("n1") * col("n1")).cast(DoubleType))
        val g0 = lit(1.0) -
          ((col("a0") * col("a0") +
            (col("n0") - col("a0")) * (col("n0") - col("a0")))
            .cast(DoubleType) /
            (col("n0") * col("n0")).cast(DoubleType))
        val scored = c.withColumn("gini_weighted",
          (col("n1").cast(DoubleType) * g1 +
            col("n0").cast(DoubleType) * g0) /
            (col("n1") + col("n0")).cast(DoubleType))
        scored
          .withColumn("rank", row_number().over(
            Window.orderBy(col("gini_weighted"), col("j")))
            .cast("long"))
          .select("j", "n1", "a1", "n0", "a0", "gini_weighted", "rank")
          .orderBy("rank")
      },
      Some("""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        sgn AS (SELECT j.j, i.i,
            CASE WHEN (strpos('0123456789abcdef',
                substr(md5('rp|' || j.j || '|' || i.i), 1, 1)) - 1)
                % 2 = 0
              THEN 1 ELSE -1 END AS s
          FROM generate_series(0, 15) j(j),
            generate_series(0, 63) i(i)),
        bits AS (SELECT e.vec_id, s.j,
            sum(CAST(floor(e.e * 1073741824.0 * s.s) AS BIGINT)) > 0
              AS bit
          FROM ex e JOIN sgn s ON s.i = e.i - 1 GROUP BY 1, 2),
        jd AS (SELECT b.j, b.bit, (l.label % 2 = 0) AS y
          FROM bits b JOIN embeddings l ON l.vec_id = b.vec_id),
        c AS (SELECT j,
            CAST(count(CASE WHEN bit THEN 1 END) AS BIGINT) AS n1,
            CAST(count(CASE WHEN bit AND y THEN 1 END) AS BIGINT)
              AS a1,
            CAST(count(CASE WHEN NOT bit THEN 1 END) AS BIGINT) AS n0,
            CAST(count(CASE WHEN NOT bit AND y THEN 1 END) AS BIGINT)
              AS a0
          FROM jd GROUP BY 1),
        scored AS (SELECT j, n1, a1, n0, a0,
            (CAST(n1 AS DOUBLE) *
              (1.0 - (CAST(a1 * a1 + (n1 - a1) * (n1 - a1) AS DOUBLE)
                / CAST(n1 * n1 AS DOUBLE))) +
             CAST(n0 AS DOUBLE) *
              (1.0 - (CAST(a0 * a0 + (n0 - a0) * (n0 - a0) AS DOUBLE)
                / CAST(n0 * n0 AS DOUBLE))))
              / CAST(n1 + n0 AS DOUBLE) AS gini_weighted
          FROM c)
        SELECT j, n1, a1, n0, a0, gini_weighted,
          CAST(row_number() OVER (ORDER BY gini_weighted, j)
            AS BIGINT) AS rank
        FROM scored ORDER BY rank"""))
  )
}
