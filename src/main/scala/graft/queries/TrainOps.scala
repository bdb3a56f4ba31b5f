package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.functions.TextFuncs
import graft.operators.Similarity

/** Training-data curation operators, round 12: memorization/novelty
  * audit, Heaps-law scaling fit, DPO preference-pair mining, token
  * entropy quality filtering, and reciprocal-rank fusion. Every query
  * is oracle-checked; float paths follow the repo's exactness rules
  * (natural logs quantized to DECIMAL(18,6) — cross-engine ln differs
  * in the last ulp; unordered double sums routed through
  * DECIMAL(38,12) partials; final expressions mirrored shape-for-shape
  * in the oracle SQL).
  */
object TrainOps {

  // one shared definition of the float-path contract (ExactAgg): a
  // precision tweak applied there moves Spark and oracle together
  private def lnq(c: org.apache.spark.sql.Column) =
    graft.functions.ExactAgg.lnq(c)
  private def lnqSql(e: String) = graft.functions.ExactAgg.sqlLnq(e)
  private def exactSum(c: org.apache.spark.sql.Column) =
    graft.functions.ExactAgg.dsum12(c)
  private def exactSumSql(e: String) =
    graft.functions.ExactAgg.sqlSum12(e)

  // ---- shared closed-form OLS (q263 Heaps, q281 Zipf) --------------
  // ONE definition of the five-moment reduction and the fit
  // expression tree, mirrored once in SQL — a precision or
  // degenerate-case tweak moves both fits and both oracles together.

  /** (source, x, y) → decimal-exact moment sums per source. */
  private def olsMoments(xy: DataFrame): DataFrame =
    xy.groupBy("source").agg(
      count(lit(1)).as("n"),
      exactSum(col("x")).as("sx"),
      exactSum(col("y")).as("sy"),
      exactSum(col("x") * col("y")).as("sxy"),
      exactSum(col("x") * col("x")).as("sxx"),
      exactSum(col("y") * col("y")).as("syy"))

  /** Moments → (source, n as nName, slope, intercept, r2). */
  private def olsFit(m: DataFrame, nName: String): DataFrame = {
    val nD = col("n").cast(DoubleType)
    val cov = nD * col("sxy") - col("sx") * col("sy")
    val varX = nD * col("sxx") - col("sx") * col("sx")
    val varY = nD * col("syy") - col("sy") * col("sy")
    m.select(col("source"), col("n").as(nName),
        (cov / varX).as("slope"),
        ((col("sy") - cov / varX * col("sx")) / nD).as("intercept"),
        (cov * cov / (varX * varY)).as("r2"))
      .orderBy("source")
  }

  /** SQL mirror of [[olsMoments]]: the `m` CTE body over a CTE `p`
    * with columns (source, x, y). */
  private def olsMomentsSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
            ${exactSumSql("x")} AS sx, ${exactSumSql("y")} AS sy,
            ${exactSumSql("x * y")} AS sxy,
            ${exactSumSql("x * x")} AS sxx,
            ${exactSumSql("y * y")} AS syy
          FROM p GROUP BY 1"""

  /** SQL mirror of [[olsFit]] over a CTE `m`. */
  private def olsFitSql(nName: String): String =
    s"""SELECT source, n AS $nName,
          (CAST(n AS DOUBLE) * sxy - sx * sy)
            / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
          (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
              / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
            / CAST(n AS DOUBLE) AS intercept,
          ((CAST(n AS DOUBLE) * sxy - sx * sy)
              * (CAST(n AS DOUBLE) * sxy - sx * sy))
            / ((CAST(n AS DOUBLE) * sxx - sx * sx)
              * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
        FROM m ORDER BY source"""

  /** (doc_id, gram): each document's DISTINCT word 5-grams — shared
    * by q262 and its streaming twin q282 so both walk the identical
    * gram construction. */
  def docGrams(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val d = graft.sources.ScanSpread.spread(df)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
    d.select(col("doc_id"),
      explode(array_distinct(
        TextFuncs.shingles(concat_ws(" ", col("ws")), 5))).as("gram"))
  }

  /** q262's DuckDB replay — also the oracle of the q282 stream twin
    * (train-offline/audit-online must equal the batch audit). */
  val NoveltyOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
            len(string_split(text, ' ')) AS n
          FROM documents),
        g AS (SELECT DISTINCT doc_id,
            array_to_string(ws[i:i+4], ' ') AS gram
          FROM w, UNNEST(range(1, n - 3)) AS t(i) WHERE n >= 5),
        train AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 < 8),
        v AS (SELECT g.doc_id,
            CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END AS novel
          FROM g LEFT JOIN train t USING (gram)
          WHERE g.doc_id % 10 >= 8)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(novel) AS BIGINT) AS n_novel,
          CAST(sum(novel) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS novelty
        FROM v GROUP BY 1 ORDER BY 1"""


  /** Per-document chat-transcript lint — (doc_id, source, n_turns,
    * scan, assistant_tokens, violation) via a REAL to_json/from_json
    * round-trip and codegen'd higher-order functions. A pure stateless
    * projection (no aggregation), so the SAME definition serves q311's
    * batch census and the q314 streaming twin at the ingest edge. */
  def chatLintPerDoc(docs: DataFrame): DataFrame = {
        val docs0 = docs
        val withTurns = docs0.select(col("doc_id"), col("source"),
            split(trim(regexp_replace(regexp_replace(col("text"),
              "[^A-Za-z0-9 ]+", ""), " +", " ")), " ").as("words"),
            (lit(2) * (lit(1) + pmod(col("doc_id"), lit(2))) +
              when(pmod(col("doc_id"), lit(5)) === 0, 1).otherwise(0))
              .as("n"))
          .withColumn("turns", expr(
            """transform(sequence(0, int(n) - 1), i -> named_struct(
               'role', CASE
                 WHEN doc_id % 13 = 0 AND i = 0 THEN 'tool'
                 WHEN doc_id % 7 = 0 AND i = 1 THEN 'user'
                 WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
               'content', CASE WHEN doc_id % 11 = 0 AND i = 1 THEN ''
                 ELSE array_join(slice(words, i * 3 + 1, 3), ' ')
                 END))"""))
          .withColumn("js", to_json(col("turns")))
        val parsed = withTurns.select(col("doc_id"), col("source"),
          from_json(col("js"), org.apache.spark.sql.types.DataType
            .fromDDL("array<struct<role:string,content:string>>"))
            .as("p"))
        val linted = parsed.select(col("doc_id"), col("source"),
            size(col("p")).cast("long").as("n_turns"),
            expr("""aggregate(sequence(0, size(p) - 1), '',
              (acc, i) -> CASE WHEN acc <> '' THEN acc
                WHEN element_at(p, i + 1).role <>
                  (CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END)
                  THEN 'role'
                WHEN element_at(p, i + 1).content = '' THEN 'empty'
                ELSE acc END)""").as("scan"),
            expr("""aggregate(sequence(0, size(p) - 1), 0L,
              (acc, i) -> acc + CASE
                WHEN i % 2 = 1 AND element_at(p, i + 1).content <> ''
                THEN size(split(element_at(p, i + 1).content, ' '))
                ELSE 0 END)""").as("assistant_tokens"))
          .withColumn("violation",
            when(col("scan") =!= "", col("scan"))
              .when(pmod(col("n_turns"), lit(2)) === 1, "parity")
              .otherwise("ok"))
        linted
      }

  /** SQL mirror: WITH-chain ending in CTE
    * `lint(doc_id, source, n_turns, assistant_tokens, violation)`. */
  val ChatLintPerDocSql: String = """WITH w AS (SELECT doc_id, source,
            string_split(trim(regexp_replace(regexp_replace(text,
              '[^A-Za-z0-9 ]+', '', 'g'), ' +', ' ', 'g')), ' ')
              AS words,
            2 * (1 + doc_id % 2)
              + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS n
          FROM documents),
        turns AS (SELECT doc_id, source, n, i,
            CASE WHEN doc_id % 13 = 0 AND i = 0 THEN 'tool'
                 WHEN doc_id % 7 = 0 AND i = 1 THEN 'user'
                 WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
            CASE WHEN doc_id % 11 = 0 AND i = 1 THEN ''
                 -- out-of-range slices: duckdb's array_to_string
                 -- returns NULL where spark's array_join returns ''
                 ELSE coalesce(array_to_string(
                   list_slice(words, CAST(i * 3 + 1 AS BIGINT),
                     CAST(i * 3 + 3 AS BIGINT)), ' '), '') END
              AS content
          FROM w, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        j AS (SELECT doc_id, source, n,
            '[' || string_agg('{"role":"' || role || '","content":"'
              || content || '"}', ',' ORDER BY i) || ']' AS js
          FROM turns GROUP BY 1, 2, 3),
        parsed AS (SELECT doc_id, source, n, i,
            json_extract_string(js, '$[' || i || '].role') AS role,
            json_extract_string(js, '$[' || i || '].content') AS content
          FROM j, UNNEST(range(0, CAST(n AS BIGINT))) AS t(i)),
        perdoc AS (SELECT doc_id, source, n AS n_turns,
            arg_min(CASE
                WHEN role <> (CASE WHEN i % 2 = 0 THEN 'user'
                  ELSE 'assistant' END) THEN 'role'
                WHEN content = '' THEN 'empty' END, i)
              FILTER (WHERE role <> (CASE WHEN i % 2 = 0 THEN 'user'
                  ELSE 'assistant' END) OR content = '') AS scan,
            CAST(sum(CASE WHEN i % 2 = 1 AND content <> ''
              THEN len(string_split(content, ' ')) ELSE 0 END)
              AS BIGINT) AS assistant_tokens
          FROM parsed GROUP BY 1, 2, 3),
        lint AS (SELECT doc_id, source, n_turns, assistant_tokens,
            CASE WHEN scan IS NOT NULL THEN scan
                 WHEN n_turns % 2 = 1 THEN 'parity'
                 ELSE 'ok' END AS violation
          FROM perdoc)"""

  val qs: Seq[Q] = Seq(

    // Memorization / novelty audit (the public train-vs-held-out
    // n-gram overlap measure): what fraction of each held-out
    // document's distinct word 5-grams never appear in the training
    // split? Low novelty = the "new" data is already memorized. Scale
    // shape: the train side reduces to a DISTINCT gram set (hash
    // aggregate, map-side combinable), the audit is ONE shuffled
    // equi-join on the gram key — never doc×doc, never a broadcast of
    // the corpus — and the per-doc roll-up is a second hash
    // aggregate. This is the same asymmetric new-vs-corpus posture as
    // q153's incremental near-dup.
    Q("q262_ngram_novelty",
      (s, dir) => {
        // both the train-distinct side and the held-out audit side
        // consume the gram table — persist the diamond (deserialized
        // columnar, spills to disk at scale)
        val grams = docGrams(Tables.load(s, dir, "documents"))
          .persist()
        val train = grams.filter(col("doc_id") % 10 < 8)
          .select("gram").distinct().withColumn("seen", lit(1))
        grams.filter(col("doc_id") % 10 >= 8)
          .join(train, Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("seen").isNull, lit(1L)).otherwise(lit(0L)))
              .as("n_novel"))
          .withColumn("novelty",
            col("n_novel").cast(DoubleType) /
              col("n_grams").cast(DoubleType))
          .orderBy("doc_id")
      },
      Some(NoveltyOracle)),

    // Heaps-law fit per source — the scaling-law primitive behind
    // data-mixing decisions: regress ln(distinct tokens) on
    // ln(total tokens) across each source's documents, closed-form
    // OLS from five aggregate moments. The slope is the source's
    // vocabulary-growth exponent (repetitive boilerplate sources fit
    // flat; diverse prose fits near the textbook ~0.8). Everything
    // before the single hash aggregate is row-local; the moments are
    // map-side combinable, so at 100 TB this is one scan + a
    // |sources|-row reduction. Slope/intercept/r² are computed from
    // the exact moment sums with expression trees mirrored verbatim
    // in the oracle.
    Q("q263_heaps_fit",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val p = Tables.load(s, dir, "documents").select(
          col("source"),
          lnq(size(ws).cast(DoubleType)).as("x"),
          lnq(size(array_distinct(ws)).cast(DoubleType)).as("y"))
        olsFit(olsMoments(p), "n_docs")
      },
      Some(s"""WITH p AS (SELECT source,
            ${lnqSql("CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS x,
            ${lnqSql(
          "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)")} AS y
          FROM documents),
        m AS ($olsMomentsSql)
        ${olsFitSql("n_docs")}""")),

    // DPO preference-pair mining: within each (source, lang) prompt
    // group, pair the highest- and lowest-quality documents (lexical
    // diversity score) and keep pairs whose score margin clears a
    // threshold — the public preference-data construction recipe.
    // Chosen/rejected are struct-min/max ARG-aggregates (a few bytes
    // of state per group, map-side combinable) — deliberately NOT a
    // row_number window, which would sort every group's full
    // membership to keep two rows. The oracle IS that window
    // formulation, so the bounded aggregate is hash-proven equal.
    Q("q265_dpo_pairs",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val d = Tables.load(s, dir, "documents").select(
          col("source"), col("lang"), col("doc_id"),
          (size(array_distinct(ws)).cast(DoubleType) /
            greatest(size(ws), lit(1)).cast(DoubleType)).as("s"))
        d.groupBy("source", "lang")
          .agg(max(struct(col("s"), col("doc_id"))).as("ch"),
            min(struct(col("s"), col("doc_id"))).as("rj"))
          .select(col("source"), col("lang"),
            col("ch.doc_id").as("chosen_id"),
            col("rj.doc_id").as("rejected_id"),
            col("ch.s").as("chosen_score"),
            col("rj.s").as("rejected_score"),
            (col("ch.s") - col("rj.s")).as("margin"))
          .filter(col("margin") >= 0.05)
          .orderBy("source", "lang")
      },
      Some("""WITH d AS (SELECT source, lang, doc_id,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(greatest(len(string_split(text, ' ')), 1)
                AS DOUBLE) AS s
          FROM documents),
        rk AS (SELECT source, lang, doc_id, s,
            row_number() OVER (PARTITION BY source, lang
              ORDER BY s DESC, doc_id DESC) AS rhi,
            row_number() OVER (PARTITION BY source, lang
              ORDER BY s ASC, doc_id ASC) AS rlo
          FROM d),
        p AS (SELECT hi.source, hi.lang,
            hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
            hi.s AS chosen_score, lo.s AS rejected_score,
            hi.s - lo.s AS margin
          FROM (SELECT * FROM rk WHERE rhi = 1) hi
          JOIN (SELECT * FROM rk WHERE rlo = 1) lo
            USING (source, lang))
        SELECT * FROM p WHERE margin >= 0.05
        ORDER BY source, lang""")),

    // Unigram token entropy per document — the classic CCNet-family
    // quality signal: near-zero entropy flags degenerate repetition,
    // implausibly high entropy flags word salad. H = ln(n) −
    // (Σ c·ln c)/n over per-document token counts c. One explode +
    // one hash aggregate to (doc, token) counts + one roll-up — all
    // map-side combinable, zero joins, zero windows: a pure
    // scan-shaped pass at 100 TB. Logs quantized, the unordered
    // Σ c·ln c routed through decimal partials.
    Q("q266_token_entropy",
      (s, dir) => {
        val counts = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("c"))
        counts.groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            exactSum(col("c").cast(DoubleType) *
              lnq(col("c").cast(DoubleType))).as("clnc"))
          .select(col("doc_id"), col("n_tokens"),
            (lnq(col("n_tokens").cast(DoubleType)) -
              col("clnc") / col("n_tokens").cast(DoubleType))
              .as("entropy"))
          .withColumn("keep", col("entropy") >= 2.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (SELECT doc_id, tok,
            CAST(count(*) AS BIGINT) AS c
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
          GROUP BY 1, 2),
        h AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            ${exactSumSql(
          s"CAST(c AS DOUBLE) * ${lnqSql("CAST(c AS DOUBLE)")}")} AS clnc
          FROM c GROUP BY 1)
        SELECT doc_id, n_tokens,
          ${lnqSql("CAST(n_tokens AS DOUBLE)")}
            - clnc / CAST(n_tokens AS DOUBLE) AS entropy,
          (${lnqSql("CAST(n_tokens AS DOUBLE)")}
            - clnc / CAST(n_tokens AS DOUBLE)) >= 2.5 AS keep
        FROM h ORDER BY doc_id""")),

    // Reciprocal-rank fusion of two retrieval rankings (the public
    // RRF recipe, Cormack et al.): per source, ranking A orders by
    // term frequency of "spark", ranking B by document length; fused
    // score Σ 1/(60+rank) over the lists a document appears in, top
    // 10 per source. Each ranking is TRUNCATED to its top 50 right at
    // the row_number — the rank-limit filter lets the engine's
    // WindowGroupLimit / TakeOrdered rewrite keep per-partition
    // top-50s instead of sorting each source's full membership
    // (ScaleSpec-pinned, the q188 lesson) — and the fusion join is
    // then |sources|×50-sized, broadcastable at any corpus scale.
    Q("q264_rank_fusion",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents").select(
          col("source"), col("doc_id"),
          expr("size(filter(split(text, ' '), t -> t = 'spark'))")
            .as("tf"),
          col("n_chars"))
        val a = d.withColumn("ra", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("tf").desc, col("doc_id"))))
          .filter(col("ra") <= 50).select("source", "doc_id", "ra")
        val b = d.withColumn("rb", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .filter(col("rb") <= 50).select("source", "doc_id", "rb")
        val fused = a.join(b, Seq("source", "doc_id"), "full")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60.0) + col("ra").cast(DoubleType)),
              lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rb").cast(DoubleType)),
              lit(0.0)))
        fused.withColumn("rk", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("rrf").desc, col("doc_id"))).cast(LongType))
          .filter(col("rk") <= 10)
          .select("source", "rk", "doc_id", "rrf")
          .orderBy("source", "rk")
      },
      Some("""WITH w AS (SELECT source, doc_id,
            len(list_filter(string_split(text, ' '), t -> t = 'spark'))
              AS tf, n_chars
          FROM documents),
        a AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
              ORDER BY tf DESC, doc_id) AS ra
          FROM w QUALIFY ra <= 50),
        b AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS rb
          FROM w QUALIFY rb <= 50),
        f AS (SELECT source, doc_id,
            COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0)
              + COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf
          FROM a FULL JOIN b USING (source, doc_id)),
        r AS (SELECT source, doc_id, rrf,
            row_number() OVER (PARTITION BY source
              ORDER BY rrf DESC, doc_id) AS rk
          FROM f QUALIFY rk <= 10)
        SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, rrf
        FROM r ORDER BY source, rk""")),

    // Margin-based bitext mining (the public LASER/CCMatrix
    // criterion, Artetxe & Schwenk): split the embedding collection
    // into two "languages" by id parity, and for each even-side
    // vector score its nearest odd-side neighbor by the RATIO margin
    // — cos(x,y) over the mean of both endpoints' average top-k
    // similarity — which cancels hubness that raw cosine thresholds
    // can't. Both directions ride Similarity.annTopK's dispatch:
    // exact brute force at fixture scale, the IVF cell-probe index
    // above the threshold — never all-pairs at 100 TB. Cosines are
    // decimal-exact (the q23 contract) and the top-4 means combine
    // per-rank single-element aggregates left-associated, so the
    // whole criterion is hash-checkable.
    Q("q267_margin_bitext",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val a = emb.filter(col("vec_id") % 2 === 0)
        val b = emb.filter(col("vec_id") % 2 === 1)
        def centroids(side: org.apache.spark.sql.DataFrame) =
          side.orderBy("vec_id").limit(16)
        def avgK(tk: org.apache.spark.sql.DataFrame, out: String) =
          tk.filter(col("rank") <= 4).groupBy("query_id")
            .agg(((((max(when(col("rank") === 1, col("cosine"))) +
              max(when(col("rank") === 2, col("cosine")))) +
              max(when(col("rank") === 3, col("cosine")))) +
              max(when(col("rank") === 4, col("cosine")))) / lit(4.0))
              .as(out))
        val fwd = Similarity.annTopK(a, b, k = 4,
          centroids = centroids(b), nProbe = 4)
        val bwd = Similarity.annTopK(b, a, k = 4,
          centroids = centroids(a), nProbe = 4)
        val ka = avgK(fwd, "ka")
        val kb = avgK(bwd, "kb")
          .withColumnRenamed("query_id", "cand_id")
        fwd.filter(col("rank") === 1)
          .select("query_id", "cand_id", "cosine")
          .join(ka, "query_id").join(kb, "cand_id")
          .withColumn("margin",
            col("cosine") / ((col("ka") + col("kb")) / lit(2.0)))
          .withColumn("accepted", col("margin") >= 1.05)
          .select("query_id", "cand_id", "cosine", "margin", "accepted")
          .orderBy("query_id")
      },
      Some("""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        nrm AS (SELECT vec_id,
            CAST(sum(CAST(e * e AS DECIMAL(18,9))) AS DOUBLE) AS nn
          FROM ex GROUP BY 1),
        dots AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
            CAST(sum(CAST(a.e * b.e AS DECIMAL(18,9))) AS DOUBLE) AS dot
          FROM ex a JOIN ex b ON a.i = b.i
          WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1 GROUP BY 1, 2),
        cosf AS (SELECT qid, cid,
            dot / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
          FROM dots JOIN nrm na ON na.vec_id = qid
          JOIN nrm nb ON nb.vec_id = cid),
        fr AS (SELECT qid, cid, cosine, row_number() OVER (
            PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
          FROM cosf),
        br AS (SELECT qid, cid, cosine, row_number() OVER (
            PARTITION BY cid ORDER BY cosine DESC, qid) AS rk
          FROM cosf),
        favg AS (SELECT qid,
            (((max(CASE WHEN rk = 1 THEN cosine END)
              + max(CASE WHEN rk = 2 THEN cosine END))
              + max(CASE WHEN rk = 3 THEN cosine END))
              + max(CASE WHEN rk = 4 THEN cosine END)) / 4.0 AS ka
          FROM fr WHERE rk <= 4 GROUP BY 1),
        bavg AS (SELECT cid,
            (((max(CASE WHEN rk = 1 THEN cosine END)
              + max(CASE WHEN rk = 2 THEN cosine END))
              + max(CASE WHEN rk = 3 THEN cosine END))
              + max(CASE WHEN rk = 4 THEN cosine END)) / 4.0 AS kb
          FROM br WHERE rk <= 4 GROUP BY 1),
        best AS (SELECT qid, cid, cosine FROM fr WHERE rk = 1)
        SELECT qid AS query_id, cid AS cand_id, cosine,
          cosine / ((ka + kb) / 2.0) AS margin,
          cosine / ((ka + kb) / 2.0) >= 1.05 AS accepted
        FROM best JOIN favg USING (qid) JOIN bavg USING (cid)
        ORDER BY query_id""")),

    // Zipf rank-frequency fit per source — q263's Heaps complement:
    // regress ln(freq) on ln(rank) over each source's top-100 tokens;
    // the slope should sit near the textbook −1 for natural prose and
    // collapses toward 0 for synthetic/repetitive sources. The rank
    // window is truncated AT the row_number (rk ≤ 100, the q188
    // lesson) so WindowGroupLimit keeps per-partition top-k instead
    // of sorting each source's full vocabulary; the OLS then runs on
    // ≤ |sources|×100 rows via the same five decimal-exact moments as
    // q263.
    Q("q281_zipf_fit",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).as("cnt"))
        val ranked = tf.withColumn("rk", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("cnt").desc, col("tok"))))
          .filter(col("rk") <= 100)
        val p = ranked.select(col("source"),
          lnq(col("rk").cast(DoubleType)).as("x"),
          lnq(col("cnt").cast(DoubleType)).as("y"))
        olsFit(olsMoments(p), "n_ranks")
      },
      Some(s"""WITH tf AS (SELECT source, t.tok AS tok,
            CAST(count(*) AS BIGINT) AS cnt
          FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
          GROUP BY 1, 2),
        rk AS (SELECT source, cnt, row_number() OVER (
            PARTITION BY source ORDER BY cnt DESC, tok) AS rk
          FROM tf QUALIFY rk <= 100),
        p AS (SELECT source,
            ${lnqSql("CAST(rk AS DOUBLE)")} AS x,
            ${lnqSql("CAST(cnt AS DOUBLE)")} AS y
          FROM rk),
        m AS ($olsMomentsSql)
        ${olsFitSql("n_ranks")}""")),

    // DoReMi-style domain reweighting (Xie et al. 2023, simplified
    // deterministically): iterate multiplicative weights on each
    // domain's excess loss against the current MIXTURE — here the
    // proxy/reference gap is the unigram KL(p_domain ‖ p_mixture),
    // which is ≥ 0 (Gibbs, the mixture covers every domain token) and
    // shrinks for a domain as its weight grows, so the loop genuinely
    // re-equilibrates each round rather than degenerating to one
    // exponentiation. Deviation from the paper, documented: the
    // update is the LINEARIZED Hedge rule w·(1 + η·excess) instead of
    // w·exp(η·excess) — exp is not correctly rounded in every libm,
    // and rational double arithmetic is the only cross-engine
    // hash-exact path. Scale shape: the corpus collapses ONCE into
    // the (source, token) frequency frame (vocabulary-bounded per
    // source, checkpointed); all 3 rounds iterate on that leaf with
    // |sources|-row weight frames riding broadcasts — 100 TB pays a
    // single scan. Plan-doubling hygiene per the q268/LPA lesson:
    // every round's weight frame is eagerly checkpointed.
    Q("q283_doremi_mix",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).as("c"))
          .persist()
        val st = tf.groupBy("source").agg(sum("c").as("st"))
        val p = tf.join(st, Seq("source"))
          .select(col("source"), col("tok"),
            (col("c").cast(DoubleType) / col("st").cast(DoubleType))
              .as("p"))
          .localCheckpoint()
        val k = st.agg(count(lit(1)).as("k"))
        var w = st.crossJoin(broadcast(k))
          .select(col("source"),
            (lit(1.0) / col("k").cast(DoubleType)).as("w"))
          .localCheckpoint()
        var lastKl: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 3) {
          val mix = p.join(broadcast(w), Seq("source"))
            .groupBy("tok")
            .agg(exactSum(col("w") * col("p")).as("m"))
          val kl = p.join(mix, Seq("tok"))
            .groupBy("source")
            .agg(exactSum(col("p") * lnq(col("p") / col("m")))
              .as("kl"))
            .localCheckpoint()
          val wr = w.join(kl, Seq("source"))
            .select(col("source"),
              (col("w") * (lit(1.0) + lit(0.5) * col("kl")))
                .cast(DecimalType(18, 6)).cast(DoubleType).as("wr"))
          val tot = wr.agg(exactSum(col("wr")).as("twr"))
          w = wr.crossJoin(broadcast(tot))
            .select(col("source"),
              (col("wr") / col("twr")).cast(DecimalType(18, 6))
                .cast(DoubleType).as("w"))
            .localCheckpoint()
          lastKl = kl
        }
        val stot = st.agg(sum("st").as("tot"))
        st.crossJoin(broadcast(stot))
          .select(col("source"),
            (col("st").cast(DoubleType) / col("tot").cast(DoubleType))
              .as("token_share"))
          .join(w, Seq("source"))
          .join(lastKl, Seq("source"))
          .select(col("source"), col("token_share"),
            col("w").as("weight"), col("kl").as("excess_kl"))
          .orderBy("source")
      },
      Some {
        val round = (prev: String, t: Int) => s"""
          mix$t AS (SELECT p.tok, ${exactSumSql("w.w * p.p")} AS m
            FROM p JOIN $prev w USING (source) GROUP BY 1),
          kl$t AS (SELECT p.source,
              ${exactSumSql(s"p.p * ${lnqSql(s"p.p / mix$t.m")}")} AS kl
            FROM p JOIN mix$t USING (tok) GROUP BY 1),
          wr$t AS (SELECT w.source,
              CAST(CAST(w.w * (1.0 + 0.5 * kl.kl) AS DECIMAL(18,6))
                AS DOUBLE) AS wr
            FROM $prev w JOIN kl$t kl USING (source)),
          w$t AS (SELECT wr$t.source, kl$t.kl,
              CAST(CAST(wr / (SELECT ${exactSumSql("wr")} FROM wr$t)
                AS DECIMAL(18,6)) AS DOUBLE) AS w
            FROM wr$t JOIN kl$t USING (source))"""
        s"""WITH tf AS (SELECT source, t.tok AS tok,
              CAST(count(*) AS BIGINT) AS c
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
            GROUP BY 1, 2),
          st AS (SELECT source, CAST(sum(c) AS BIGINT) AS st
            FROM tf GROUP BY 1),
          p AS (SELECT tf.source, tok,
              CAST(c AS DOUBLE) / CAST(st AS DOUBLE) AS p
            FROM tf JOIN st USING (source)),
          w0 AS (SELECT source,
              CAST(1.0 AS DOUBLE)
                / CAST((SELECT count(*) FROM st) AS DOUBLE) AS w
            FROM st),
          ${round("w0", 1)},
          ${round("w1", 2)},
          ${round("w2", 3)}
        SELECT st.source,
          CAST(st AS DOUBLE)
            / CAST((SELECT sum(st) FROM st) AS DOUBLE) AS token_share,
          w3.w AS weight, w3.kl AS excess_kl
        FROM st JOIN w3 USING (source) ORDER BY source"""
      }),

    // Data-constrained epoch allocation (the Muennighoff et al. 2023
    // setting): a token budget B = 2× the unique corpus under a
    // 4-epoch repeat cap, filled greedily in quality order — high-
    // quality sources repeat up to the cap, the marginal source takes
    // the remainder, the tail gets nothing. Quality = source-level
    // type/token ratio (one aggregate, deterministic division).
    // Greedy-by-prefix is closed-form: alloc_i = clamp(B − Σ_{j<i}
    // cap·t_j, 0, cap·t_i) over the quality-sorted PREFIX — a window
    // over the |sources|-row aggregated frame (the q270 marginal
    // pattern: the corpus itself never sorts; at 100 TB this frame is
    // still |sources| rows). All-integer token arithmetic — the only
    // doubles are the quality ratio and the epochs quotient, one
    // division each, mirrored.
    Q("q287_epoch_allocation",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("t"), countDistinct("tok").as("d"))
          .withColumn("quality",
            col("d").cast(DoubleType) / col("t").cast(DoubleType))
        val tot = tf.agg(sum("t").as("st"))
        val w = Window.orderBy(col("quality").desc, col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val alloc = greatest(lit(0L),
          least(lit(4L) * col("t"), col("b") - col("pre")))
        tf.crossJoin(broadcast(tot))
          .withColumn("b", lit(2L) * col("st"))
          .withColumn("pre",
            coalesce(sum(lit(4L) * col("t")).over(w), lit(0L)))
          .select(col("source"), col("t").as("tokens"), col("quality"),
            alloc.as("alloc_tokens"),
            (alloc.cast(DoubleType) / col("t").cast(DoubleType))
              .as("epochs"))
          .orderBy("source")
      },
      Some("""WITH tf AS (SELECT source,
            CAST(count(*) AS BIGINT) AS t,
            CAST(count(DISTINCT t2.tok) AS BIGINT) AS d
          FROM documents,
            UNNEST(string_split(text, ' ')) AS t2(tok)
          GROUP BY 1),
        q AS (SELECT source, t,
            CAST(d AS DOUBLE) / CAST(t AS DOUBLE) AS quality FROM tf),
        tot AS (SELECT CAST(sum(t) AS BIGINT) AS st FROM q),
        w AS (SELECT source, t, quality,
            COALESCE(CAST(sum(4 * t) OVER (ORDER BY quality DESC,
              source ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING) AS BIGINT), 0) AS pre,
            (SELECT 2 * st FROM tot) AS b
          FROM q)
        SELECT source, t AS tokens, quality,
          greatest(CAST(0 AS BIGINT), least(4 * t, b - pre))
            AS alloc_tokens,
          CAST(greatest(CAST(0 AS BIGINT), least(4 * t, b - pre))
            AS DOUBLE) / CAST(t AS DOUBLE) AS epochs
        FROM w ORDER BY source""")),

    // T5-style span corruption (Raffel et al. 2020) — the denoising-
    // objective data transform, done entirely row-locally: tokens at
    // positions i with (i div 3) mod 7 == 0 are masked (3-token spans
    // every 21 positions, ~14% corruption, the T5 defaults' shape);
    // each span is replaced by one numbered sentinel in the input and
    // emitted after that sentinel in the target. Pure integer/string
    // higher-order functions over the token array — no UDF, no
    // shuffle before the presentation sort, and both engines walk the
    // identical index arithmetic.
    Q("q289_span_corruption",
      (s, dir) => {
        val toks = split(col("text"), " ")
        val idx = sequence(lit(0), size(toks) - 1)
        def tokAt(i: Column) = element_at(toks, i + 1)
        // Spark `/` is DOUBLE division — floor() recovers the integer
        // quotient DuckDB's `//` computes (exact: i < 2^53)
        def masked(i: Column) = floor(i / 3) % 7 === 0
        def sentinel(i: Column) =
          concat(lit("<extra_id_"), floor(i / 21).cast("string"),
            lit(">"))
        val inputArr = filter(
          transform(idx, i =>
            when(i % 21 === 0, sentinel(i))
              .when(!masked(i), tokAt(i))),
          x => x.isNotNull)
        val targetArr = transform(
          filter(idx, i => masked(i)),
          i => when(i % 21 === 0,
            concat(sentinel(i), lit(" "), tokAt(i)))
            .otherwise(tokAt(i)))
        // sortedSpread (round 19 §3): one explicit range exchange
        // replaces the spread repair, presents the order, and keeps
        // the span-corruption HOFs out of the range sample pass
        graft.sources.ScanSpread
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"),
            size(toks).cast(LongType).as("n_tokens"),
            size(filter(idx, i => masked(i))).cast(LongType)
              .as("n_masked"),
            size(filter(idx, i => masked(i) && i % 21 === 0))
              .cast(LongType).as("n_spans"),
            array_join(inputArr, " ").as("inputs"),
            array_join(targetArr, " ").as("targets"))
      },
      Some("""WITH d AS (SELECT doc_id,
            string_split(text, ' ') AS toks,
            range(0, len(string_split(text, ' '))) AS idx
          FROM documents)
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(idx,
            i -> (i // 3) % 7 = 0)) AS BIGINT) AS n_masked,
          CAST(len(list_filter(idx,
            i -> (i // 3) % 7 = 0 AND i % 21 = 0)) AS BIGINT)
            AS n_spans,
          array_to_string(list_filter(list_transform(idx,
            i -> CASE WHEN i % 21 = 0
                THEN '<extra_id_' || CAST(i // 21 AS VARCHAR) || '>'
              WHEN NOT ((i // 3) % 7 = 0) THEN toks[i + 1]
              ELSE NULL END),
            x -> x IS NOT NULL), ' ') AS inputs,
          array_to_string(list_transform(
            list_filter(idx, i -> (i // 3) % 7 = 0),
            i -> CASE WHEN i % 21 = 0
              THEN '<extra_id_' || CAST(i // 21 AS VARCHAR) || '>'
                || ' ' || toks[i + 1]
              ELSE toks[i + 1] END), ' ') AS targets
        FROM d ORDER BY doc_id""")),

    // Rendezvous (highest-random-weight) sharding stability — the
    // operational cost of GROWING a shard set: mod-N reassigns ~all
    // keys when N changes; HRW provably moves ONLY keys whose argmax
    // lands on a new shard (≈ 2/10 here), which is what keeps shard
    // caches, dedup state, and co-located buckets warm through a
    // resize. Per doc, both schemes at 8 and at 10 shards; the HRW
    // argmax is a codegen'd `greatest` chain over per-shard struct
    // scores — row-local, zero shuffles before the 2-row census. The
    // multiplicative hash pre-reduces doc_id mod 100000007 (the q288
    // rule) so both engines stay inside BIGINT.
    Q("q301_rendezvous_shards",
      (s, dir) => {
        // the shard index mixes BEFORE the multiplicative scatter —
        // an additive-only h(s) is monotone in s and degenerates HRW
        // to "always the newest shard"
        def h(shard: Int): Column =
          (((col("doc_id") % 100000007L) +
            lit((shard + 1).toLong) * 40503L) * 2654435761L) %
            4294967296L
        def hrw(n: Int): Column =
          greatest((0 until n).map(sh =>
            struct(h(sh).as("h"), lit(-sh.toLong).as("ns"))): _*)
            .getField("ns") * -1L
        val assigned = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 8).as("mod8"),
            (col("doc_id") % 10).as("mod10"),
            hrw(8).as("hrw8"), hrw(10).as("hrw10"))
        val census = assigned.agg(
            count(lit(1)).as("n_total"),
            sum(when(col("mod8") =!= col("mod10"), 1L).otherwise(0L))
              .as("moved_mod"),
            sum(when(col("hrw8") =!= col("hrw10"), 1L).otherwise(0L))
              .as("moved_hrw"))
        census.select(lit("mod").as("scheme"),
            col("moved_mod").as("n_moved"), col("n_total"),
            (col("moved_mod").cast("double") /
              col("n_total").cast("double")).as("frac_moved"))
          .unionAll(census.select(lit("hrw").as("scheme"),
            col("moved_hrw").as("n_moved"), col("n_total"),
            (col("moved_hrw").cast("double") /
              col("n_total").cast("double")).as("frac_moved")))
          .orderBy("scheme")
      },
      Some {
        def hrwCte(n: Int) =
          s"""h$n AS (SELECT doc_id, s,
              (((doc_id % 100000007) + (s + 1) * 40503) * 2654435761)
                % 4294967296 AS h
            FROM documents, UNNEST(range(0, $n)) AS t(s)),
          w$n AS (SELECT doc_id, s AS hrw$n FROM (
              SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                ORDER BY h DESC, s) AS rn FROM h$n) WHERE rn = 1)"""
        s"""WITH ${hrwCte(8)},
        ${hrwCte(10)},
        a AS (SELECT doc_id,
            doc_id % 8 AS mod8, doc_id % 10 AS mod10, hrw8, hrw10
          FROM documents JOIN w8 USING (doc_id)
          JOIN w10 USING (doc_id)),
        c AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
            CAST(sum(CASE WHEN mod8 <> mod10 THEN 1 ELSE 0 END)
              AS BIGINT) AS moved_mod,
            CAST(sum(CASE WHEN hrw8 <> hrw10 THEN 1 ELSE 0 END)
              AS BIGINT) AS moved_hrw
          FROM a)
        SELECT 'mod' AS scheme, moved_mod AS n_moved, n_total,
          CAST(moved_mod AS DOUBLE) / CAST(n_total AS DOUBLE)
            AS frac_moved FROM c
        UNION ALL
        SELECT 'hrw', moved_hrw, n_total,
          CAST(moved_hrw AS DOUBLE) / CAST(n_total AS DOUBLE) FROM c
        ORDER BY scheme"""
      }),

    // SFT chat-transcript lint: instruction-tuning corpora arrive as
    // role/content turn arrays, and the FIRST pipeline stage is format
    // validation plus loss-mask accounting (how many tokens actually
    // train, i.e. sit in assistant turns). Transcripts derive
    // deterministically from documents (the packMedia convention) with
    // controlled corruptions — a wrong role (doc_id%13), a broken
    // user/assistant alternation (%7), an empty turn (%11), an odd
    // turn count (%5) — then the Spark side round-trips through REAL
    // JSON (to_json -> from_json) and computes everything from the
    // PARSED array with codegen'd higher-order functions (aggregate /
    // transform / element_at; no UDF, no shuffle before the final
    // group). The violation is the FIRST in turn order (role checked
    // before emptiness at the same index; parity last) — the oracle
    // replays the same scan via argmin over an unnested turn table and
    // parses ITS OWN json with DuckDB's extractor, so both engines
    // prove a real parse, not a string compare.
    Q("q311_chat_format_lint",
      (s, dir) => chatLintPerDoc(Tables.load(s, dir, "documents"))
        .groupBy(col("source"), col("violation"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("assistant_tokens")).cast(LongType)
            .as("assistant_tokens"),
          sum(col("n_turns")).cast(LongType).as("n_turns"))
        .orderBy("source", "violation"),
      Some(ChatLintPerDocSql + """
        SELECT source, violation,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(assistant_tokens) AS BIGINT) AS assistant_tokens,
          CAST(sum(n_turns) AS BIGINT) AS n_turns
        FROM lint GROUP BY 1, 2 ORDER BY source, violation""")),


    // Fleiss' kappa over a 3-rater labeling derived deterministically
    // from (doc_id, n_chars) — the agreement statistic every
    // human-labeled curation set reports before its labels are trusted
    // as training signal. The kappa is computed as ONE division of two
    // EXACT integers — multiplying P-bar = (S - 3N) / 6N and
    // P_e = C / 9N^2 through by 18N^2 gives
    // kappa = (3N(S - 3N) - 2C) / (18N^2 - 2C) with S = Sigma n_ij^2
    // and C = Sigma col_j^2 both exact BIGINT sums — so the double is
    // bit-identical across engines with no float-summation-order risk
    // (the ExactAgg lesson applied by construction rather than by
    // decimal partials).
    Q("q312_fleiss_kappa",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val long = docs.select(col("doc_id"), col("n_chars"))
          .select(col("doc_id"),
            explode(array(
              pmod(col("doc_id") * 7 + col("n_chars"), lit(3)),
              pmod(col("doc_id") * 13 + col("n_chars") * 5, lit(3)),
              pmod(col("doc_id") * 29 + lit(11), lit(3)))).as("cat"))
        val cell = long.groupBy("doc_id", "cat")
          .agg(count(lit(1)).as("nij"))
        val stats = cell.agg(
          count_distinct(col("doc_id")).as("n_items"),
          sum(col("nij") * col("nij")).cast("long").as("s_sum"))
        val colSums = long.groupBy("cat")
          .agg(count(lit(1)).as("cj"))
          .agg(sum(col("cj") * col("cj")).cast("long").as("c_sum"))
        stats.crossJoin(colSums) // 1 row x 1 row: control-plane join
          .select(col("n_items"), col("s_sum"), col("c_sum"),
            ((lit(3) * col("n_items") * (col("s_sum")
                - lit(3) * col("n_items"))
              - lit(2) * col("c_sum")).cast("double") /
             (lit(18) * col("n_items") * col("n_items")
              - lit(2) * col("c_sum")).cast("double")).as("kappa"))
      },
      Some("""WITH long AS (
          SELECT doc_id, (doc_id * 7 + n_chars) % 3 AS cat
            FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 13 + n_chars * 5) % 3 FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 29 + 11) % 3 FROM documents),
        cell AS (SELECT doc_id, cat, count(*) AS nij
          FROM long GROUP BY 1, 2),
        stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
              AS n_items,
            CAST(sum(nij * nij) AS BIGINT) AS s_sum FROM cell),
        cols AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS c_sum FROM
          (SELECT cat, count(*) AS cj FROM long GROUP BY 1)),
        k AS (SELECT n_items, s_sum, c_sum FROM stats, cols)
        SELECT n_items, s_sum, c_sum,
          CAST(3 * n_items * (s_sum - 3 * n_items) - 2 * c_sum
            AS DOUBLE) /
          CAST(18 * n_items * n_items - 2 * c_sum AS DOUBLE) AS kappa
        FROM k""")),

    // Krippendorff's alpha over the SAME 3-rater labeling as q312 —
    // the other agreement statistic label audits report, deliberately
    // on identical data so the two are directly comparable (they
    // differ only in expected-disagreement normalization: alpha uses
    // T(T-1) sampling WITHOUT replacement where Fleiss squares margin
    // proportions). Same exactness discipline: for nominal data with
    // m = 3 raters, D_o = (9N - S) / 6N and D_e = (9N² - C) / 3N(3N-1)
    // reduce alpha = 1 - D_o/D_e to ONE division of exact BIGINTs,
    // alpha = (2(9N² - C) - (9N - S)(3N - 1)) / (2(9N² - C)) with
    // S = Σ n_uc², C = Σ col_c² — bit-identical across engines by
    // construction.
    Q("q316_krippendorff_alpha",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val long = docs.select(col("doc_id"), col("n_chars"))
          .select(col("doc_id"),
            explode(array(
              pmod(col("doc_id") * 7 + col("n_chars"), lit(3)),
              pmod(col("doc_id") * 13 + col("n_chars") * 5, lit(3)),
              pmod(col("doc_id") * 29 + lit(11), lit(3)))).as("cat"))
        val cell = long.groupBy("doc_id", "cat")
          .agg(count(lit(1)).as("nij"))
        val stats = cell.agg(
          count_distinct(col("doc_id")).as("n_items"),
          sum(col("nij") * col("nij")).cast(LongType).as("s_sum"))
        val colSums = long.groupBy("cat")
          .agg(count(lit(1)).as("cj"))
          .agg(sum(col("cj") * col("cj")).cast(LongType).as("c_sum"))
        stats.crossJoin(colSums) // 1 row x 1 row: control-plane join
          .select(col("n_items"), col("s_sum"), col("c_sum"),
            ((lit(2) * (lit(9) * col("n_items") * col("n_items")
                - col("c_sum"))
              - (lit(9) * col("n_items") - col("s_sum"))
                * (lit(3) * col("n_items") - lit(1))).cast("double") /
             (lit(2) * (lit(9) * col("n_items") * col("n_items")
                - col("c_sum"))).cast("double")).as("alpha"))
      },
      Some("""WITH long AS (
          SELECT doc_id, (doc_id * 7 + n_chars) % 3 AS cat
            FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 13 + n_chars * 5) % 3 FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 29 + 11) % 3 FROM documents),
        cell AS (SELECT doc_id, cat, count(*) AS nij
          FROM long GROUP BY 1, 2),
        stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
              AS n_items,
            CAST(sum(nij * nij) AS BIGINT) AS s_sum FROM cell),
        cols AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS c_sum FROM
          (SELECT cat, count(*) AS cj FROM long GROUP BY 1)),
        k AS (SELECT n_items, s_sum, c_sum FROM stats, cols)
        SELECT n_items, s_sum, c_sum,
          CAST(2 * (9 * n_items * n_items - c_sum)
              - (9 * n_items - s_sum) * (3 * n_items - 1) AS DOUBLE) /
          CAST(2 * (9 * n_items * n_items - c_sum) AS DOUBLE) AS alpha
        FROM k""")),

    // Padding-waste census — the batching decision every training run
    // makes: with per-sequence padding, how much of each batch is pad
    // tokens under (a) a power-of-two length-bucket grid (16..2048,
    // wide enough to spread ANY corpus) vs (b) flat padding to the
    // 2048 context? One codegen'd scan computes token
    // lengths (whitespace tokens, clipped at the context), assigns the
    // smallest covering bucket, and two hash aggregates produce the
    // per-bucket and flat census; waste is ONE division of exact
    // BIGINT masses, so the doubles are bit-identical across engines.
    // Scale shape: a |buckets|-row reduction — 100 TB of text never
    // shuffles anything but the 5-row census.
    Q("q317_padding_waste",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = least(size(split(col("text"), " ")).cast(LongType),
          lit(2048L))
        val bucket = when(toks <= 16, 16L).when(toks <= 32, 32L)
          .when(toks <= 64, 64L).when(toks <= 128, 128L)
          .when(toks <= 256, 256L).when(toks <= 512, 512L)
          .when(toks <= 1024, 1024L).otherwise(2048L)
        val base = docs.select(toks.as("toks"), bucket.as("bucket"))
        val bucketed = base.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).cast(LongType).as("token_sum"))
          .select(lit("bucketed").as("scenario"), col("bucket"),
            col("n_docs"),
            col("token_sum"),
            (col("bucket") * col("n_docs")).cast(LongType)
              .as("padded_sum"))
        val flat = base.agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).cast(LongType).as("token_sum"))
          .select(lit("flat2048").as("scenario"), lit(2048L).as("bucket"),
            col("n_docs"), col("token_sum"),
            (lit(2048L) * col("n_docs")).cast(LongType).as("padded_sum"))
        bucketed.unionByName(flat)
          .withColumn("waste",
            (col("padded_sum") - col("token_sum")).cast("double") /
              col("padded_sum").cast("double"))
          .orderBy("scenario", "bucket")
      },
      Some("""WITH t AS (SELECT least(CAST(len(string_split(text, ' '))
              AS BIGINT), 2048) AS toks
          FROM documents),
        b AS (SELECT toks, CASE WHEN toks <= 16 THEN 16
            WHEN toks <= 32 THEN 32 WHEN toks <= 64 THEN 64
            WHEN toks <= 128 THEN 128 WHEN toks <= 256 THEN 256
            WHEN toks <= 512 THEN 512 WHEN toks <= 1024 THEN 1024
            ELSE 2048 END AS bucket
          FROM t),
        bucketed AS (SELECT 'bucketed' AS scenario, bucket,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(toks) AS BIGINT) AS token_sum,
            CAST(bucket * count(*) AS BIGINT) AS padded_sum
          FROM b GROUP BY bucket),
        flat AS (SELECT 'flat2048' AS scenario, CAST(2048 AS BIGINT)
              AS bucket,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(toks) AS BIGINT) AS token_sum,
            CAST(2048 * count(*) AS BIGINT) AS padded_sum
          FROM b)
        SELECT scenario, bucket, n_docs, token_sum, padded_sum,
          CAST(padded_sum - token_sum AS DOUBLE)
            / CAST(padded_sum AS DOUBLE) AS waste
        FROM (SELECT * FROM bucketed UNION ALL SELECT * FROM flat)
        ORDER BY scenario, bucket""")),

    // Concatenation packing (SequencePack): the zero-waste
    // pretraining layout q317's census prices the alternative of —
    // docs laid head-to-tail in doc_id order, paged into 512-token
    // windows; per doc its stream offset, window span and first-window
    // fill. The offset is a DISTRIBUTED prefix sum (bucket windows +
    // broadcast offsets, PrefixSum.exclusiveCumsum), so the oracle's
    // global running-sum window is exactly what the engine avoids.
    Q("q326_sequence_packing",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("raw_toks"))
        graft.operators.SequencePack.pack(docs, col("doc_id"),
            col("raw_toks"), contextLen = 512L, bucketSize = 1024L)
          .select(col("doc_id"), col("n_tokens"), col("tok_start"),
            col("win_start"), col("win_end"), col("n_windows"),
            col("head_fill"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        o AS (SELECT doc_id, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start FROM d),
        w AS (SELECT doc_id, n_tokens, tok_start,
            CAST(floor(tok_start / 512) AS BIGINT) AS win_start,
            CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / 512)
              AS BIGINT) AS win_end FROM o)
        SELECT doc_id, n_tokens, tok_start, win_start, win_end,
          win_end - win_start + 1 AS n_windows,
          least(n_tokens, (win_start + 1) * 512 - tok_start) AS head_fill
        FROM w ORDER BY doc_id""")),

    // The per-WINDOW view of the q326 packing — what a training data
    // loader actually consumes: for each 512-token window, how many
    // documents touch it, how many START in it (attention-mask reset
    // points) and how many CONTINUE past it (cross-window fragments).
    // Spark side explodes each doc's window span (output-linear: one
    // row per doc-window incidence) and hash-aggregates; the oracle
    // replays with DuckDB's generate_series unnest.
    Q("q327_packing_window_census",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("raw_toks"))
        val packed = graft.operators.SequencePack.pack(docs,
            col("doc_id"), col("raw_toks"), contextLen = 512L,
            bucketSize = 1024L)
          .select(col("win_start"), col("win_end"))
        // chunked span explode: per-row allocation bounded at the
        // chunk size even for a mega-document spanning millions of
        // windows (SequencePack.explodeWindowSpan scaladoc)
        graft.operators.SequencePack.explodeWindowSpan(packed,
            col("win_start"), col("win_end"), "window_id")
          .groupBy("window_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("window_id") === col("win_start"), 1L)
              .otherwise(0L)).as("n_starting"),
            sum(when(col("window_id") < col("win_end"), 1L)
              .otherwise(0L)).as("n_crossing"))
          .orderBy("window_id")
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        o AS (SELECT doc_id, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start FROM d),
        w AS (SELECT doc_id,
            CAST(floor(tok_start / 512) AS BIGINT) AS win_start,
            CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / 512)
              AS BIGINT) AS win_end FROM o),
        inc AS (SELECT win_start, win_end,
            unnest(generate_series(win_start, win_end)) AS window_id
          FROM w)
        SELECT window_id, count(*) AS n_docs,
          CAST(sum(CASE WHEN window_id = win_start THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starting,
          CAST(sum(CASE WHEN window_id < win_end THEN 1 ELSE 0 END)
            AS BIGINT) AS n_crossing
        FROM inc GROUP BY 1 ORDER BY 1""")),

    // q326 packing for the REAL corpus-order case (r16 verdict #4):
    // the deterministic layout is a string composite — here
    // (source, doc_id), the (shard, path) shape of a pretraining
    // corpus — not a numeric column. SequencePack.packOrdered derives
    // a dense numeric rank first (PrefixSum.globalRank: range
    // partitioner + per-partition windows + broadcast offsets — no
    // single-task global window) and packs in that order; `pack_rank`
    // rides the output as the layout order a data loader replays.
    // The oracle replays the rank with a global row_number.
    Q("q328_packing_by_source",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("raw_toks"))
        graft.operators.SequencePack.packOrdered(docs,
            Seq(col("source"), col("doc_id")), col("raw_toks"),
            contextLen = 512L)
          .select(col("doc_id"), col("source"), col("pack_rank"),
            col("n_tokens"), col("tok_start"), col("win_start"),
            col("win_end"), col("n_windows"))
          .orderBy("pack_rank")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT doc_id, source, n_tokens,
            CAST(row_number() OVER (ORDER BY source, doc_id) - 1
              AS BIGINT) AS pack_rank FROM d),
        o AS (SELECT doc_id, source, pack_rank, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY pack_rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start FROM r)
        SELECT doc_id, source, pack_rank, n_tokens, tok_start,
          CAST(floor(tok_start / 512) AS BIGINT) AS win_start,
          CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / 512)
            AS BIGINT) AS win_end,
          CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / 512)
            - floor(tok_start / 512) + 1 AS BIGINT) AS n_windows
        FROM o ORDER BY pack_rank""")),

    // Deterministic epoch shuffle (EpochShuffle): the data-loader
    // permutation for multi-epoch pretraining as row-local arithmetic
    // — pos = (a·doc_id + b) mod n is an exact bijection of the dense
    // id domain (gcd(a,n)=1, driver-checked), so epoch order and
    // batch assignment cost ZERO shuffle (materializing
    // orderBy(rand()) is a full global sort per epoch). The census
    // groups the epoch-3 batches and reports the interleaving quality
    // a loader cares about: docs per batch, distinct sources/langs
    // mixed into each batch, token load. The oracle replays the
    // affine map in SQL with n from a scalar count.
    Q("q329_epoch_shuffle",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        // control-plane: exact corpus size from footer metadata when
        // file-backed, one count() otherwise
        val n = graft.sources.ParquetStats.footerRowCount(s, docs)
          .getOrElse(docs.count())
        graft.operators.EpochShuffle.assign(docs, col("doc_id"), n,
            epoch = 3, batchSize = 64L)
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("toks")).as("tok_sum"),
            min(col("epoch_pos")).as("pos_lo"),
            max(col("epoch_pos")).as("pos_hi"))
          .orderBy("batch_id")
      },
      Some("""WITH d AS (SELECT doc_id, source, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents),
        p AS (SELECT *,
            (1000003 * doc_id + 23757) %
              (SELECT count(*) FROM documents) AS epoch_pos FROM d),
        b AS (SELECT *, (epoch_pos // 64) AS batch_id FROM p)
        SELECT batch_id, count(*) AS n_docs,
          CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(sum(toks) AS BIGINT) AS tok_sum,
          min(epoch_pos) AS pos_lo, max(epoch_pos) AS pos_hi
        FROM b GROUP BY batch_id ORDER BY batch_id""")),

    // Length-grouped batching: sorting the corpus by token length
    // before cutting fixed-size batches is the standard
    // padding-minimizing layout for non-packed (padded) training and
    // inference batching. Spark derives the length order with the
    // same distributed rank as q328 (range partitioner + local
    // windows — no single-task sort) and compares per-batch padding
    // waste (n·max(len) − Σlen) against arrival-order batching of the
    // same batch size; the oracle replays both with global windows.
    Q("q330_length_batching",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val byLen = graft.operators.PrefixSum.globalRank(docs,
            Seq(col("toks"), col("doc_id")), "r")
          .withColumn("scenario", lit("length_sorted"))
          .withColumn("batch_id", floor(col("r") / 64))
        val arrival = docs
          .withColumn("scenario", lit("arrival"))
          .withColumn("batch_id", floor(col("doc_id") / 64))
        byLen.select("scenario", "batch_id", "toks")
          .unionByName(arrival.select("scenario", "batch_id", "toks"))
          .groupBy("scenario", "batch_id")
          .agg(count(lit(1)).as("n_docs"),
            max(col("toks")).as("max_toks"),
            sum(col("toks")).as("tok_sum"))
          .withColumn("waste",
            col("n_docs") * col("max_toks") - col("tok_sum"))
          .orderBy("scenario", "batch_id")
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents),
        ls AS (SELECT 'length_sorted' AS scenario,
            CAST(floor((row_number() OVER (ORDER BY toks, doc_id) - 1)
              / 64) AS BIGINT) AS batch_id, toks FROM d),
        ar AS (SELECT 'arrival' AS scenario,
            CAST(floor(doc_id / 64) AS BIGINT) AS batch_id, toks FROM d),
        u AS (SELECT * FROM ls UNION ALL SELECT * FROM ar)
        SELECT scenario, batch_id, count(*) AS n_docs,
          max(toks) AS max_toks, CAST(sum(toks) AS BIGINT) AS tok_sum,
          CAST(count(*) * max(toks) - sum(toks) AS BIGINT) AS waste
        FROM u GROUP BY scenario, batch_id
        ORDER BY scenario, batch_id""")),

    // q329's keyed upgrade (r17 verdict #7): the affine map's
    // constant stride correlates batch composition with doc_id
    // arithmetic; the 3-round Feistel network over the smallest
    // even-bit domain ≥ n (cycle-walking the out-of-range outputs
    // back into [0, n)) is an exact keyed bijection with no such
    // structure — still row-local, still ZERO shuffle. The oracle
    // replays the walk literally: same round keys from the same
    // (seed=42, epoch=1) derivation, same multiply-shift round
    // function on BIGINTs, the cycle walk as a recursive CTE (one
    // level per re-permute; DuckDB stops when no row has x ≥ n).
    Q("q331_feistel_epoch_shuffle",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        // control-plane: exact corpus size from footer metadata when
        // file-backed, one count() otherwise
        val n = graft.sources.ParquetStats.footerRowCount(s, docs)
          .getOrElse(docs.count())
        graft.operators.EpochShuffle.assignFeistel(docs, col("doc_id"),
            n, epoch = 1, batchSize = 64L, seed = 42L)
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("toks")).as("tok_sum"),
            min(col("epoch_pos")).as("pos_lo"),
            max(col("epoch_pos")).as("pos_hi"))
          .orderBy("batch_id")
      },
      Some("""WITH RECURSIVE
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        hh AS (SELECT n, (SELECT min(g.h)
            FROM generate_series(1, 31) AS g(h)
            WHERE power(2, 2 * g.h) >= cnt.n) AS h FROM cnt),
        par AS (SELECT n, h,
            (CAST(1 AS BIGINT) << h) - 1 AS m,
            ((1 + 1) * 7919 + 42 * 104729 + 1 * 40503) & 65535 AS k1,
            ((1 + 1) * 7919 + 42 * 104729 + 2 * 40503) & 65535 AS k2,
            ((1 + 1) * 7919 + 42 * 104729 + 3 * 40503) & 65535 AS k3
          FROM hh),
        d AS (SELECT doc_id, source, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents),
        w(doc_id, x) AS (
          SELECT s.doc_id, (s.l3 << s.h) | s.r3 FROM (
            SELECT d.doc_id, p.h,
              d.doc_id >> p.h AS l0, d.doc_id & p.m AS r0,
              xor(l0, (((r0 + p.k1) * 2654435761) >> 13) & p.m) AS r1,
              xor(r0, (((r1 + p.k2) * 2654435761) >> 13) & p.m) AS r2,
              xor(r1, (((r2 + p.k3) * 2654435761) >> 13) & p.m) AS r3,
              r2 AS l3
            FROM d, par p) s
          UNION ALL
          SELECT s.doc_id, (s.l3 << s.h) | s.r3 FROM (
            SELECT w.doc_id, p.h,
              w.x >> p.h AS l0, w.x & p.m AS r0,
              xor(l0, (((r0 + p.k1) * 2654435761) >> 13) & p.m) AS r1,
              xor(r0, (((r1 + p.k2) * 2654435761) >> 13) & p.m) AS r2,
              xor(r1, (((r2 + p.k3) * 2654435761) >> 13) & p.m) AS r3,
              r2 AS l3
            FROM w, par p WHERE w.x >= p.n) s),
        pos AS (SELECT doc_id, x AS epoch_pos FROM w
          WHERE x < (SELECT n FROM par)),
        b AS (SELECT d.source, d.lang, d.toks, pos.epoch_pos,
            (pos.epoch_pos // 64) AS batch_id
          FROM d JOIN pos USING (doc_id))
        SELECT batch_id, count(*) AS n_docs,
          CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(sum(toks) AS BIGINT) AS tok_sum,
          min(epoch_pos) AS pos_lo, max(epoch_pos) AS pos_hi
        FROM b GROUP BY batch_id ORDER BY batch_id""")),

    // Token-budget curation cut — "keep the best documents until the
    // token budget": the standard quality-filtered corpus assembly
    // step (a pretraining run buys N tokens, not N documents). Order
    // by quality (here lexical diversity: distinct-word ratio —
    // IEEE-exact on both engines, it is one division of two small
    // ints), take documents while the running token total BEFORE the
    // doc stays under the budget (half the corpus's tokens, carried
    // as a broadcast scalar so the whole query is ONE distributed
    // plan). Rank and running total come FUSED from packOrdered's
    // single window pass (chaining globalRank then exclusiveCumsum
    // re-evaluates the rank subtree in the cumsum's offsets branch —
    // audited: a 10-node duplicate; the fused form is dup=0 with ONE
    // data exchange): per-bucket windows over binary-search
    // splitters + a broadcast of bucket offsets, no single-task
    // global window at any corpus size. The span columns packOrdered
    // derives are pruned by the projection (never computed). Oracle
    // replays rank and cumsum with global windows.
    Q("q333_token_budget_cut",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(ws).cast("long").as("toks"),
            (size(array_distinct(ws)).cast("double") /
              size(ws).cast("double")).as("quality"))
        val packed = graft.operators.SequencePack.packOrdered(docs,
          Seq(-col("quality"), col("doc_id")), col("toks"),
          contextLen = 1L)
        val total = docs.agg(sum(col("toks")).as("total_toks"))
        packed.crossJoin(broadcast(total))
          .filter(col("tok_start") * 2 < col("total_toks"))
          .select(col("doc_id"), col("source"), col("toks"),
            col("quality"), col("pack_rank").as("q_rank"),
            col("tok_start").as("cum_before"))
          .orderBy("q_rank")
      },
      Some("""WITH d AS (SELECT doc_id, source,
            string_split(text, ' ') AS w FROM documents),
        s AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS toks,
            CAST(len(list_distinct(w)) AS DOUBLE) /
              CAST(len(w) AS DOUBLE) AS quality FROM d),
        r AS (SELECT *, CAST(row_number() OVER
            (ORDER BY quality DESC, doc_id) - 1 AS BIGINT) AS q_rank
          FROM s),
        c AS (SELECT *, CAST(coalesce(sum(toks) OVER (ORDER BY q_rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_before FROM r)
        SELECT doc_id, source, toks, quality, q_rank, cum_before
        FROM c WHERE cum_before * 2 < (SELECT sum(toks) FROM s)
        ORDER BY q_rank"""))
  )
}
