package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.functions.TextFuncs
import graft.operators.Similarity

/** Corpus-curation operators, round 12 batch two: boilerplate
  * paragraph removal, split-drift chi², curriculum staging, ROUGE pair
  * scoring, MATTR lexical diversity, centroid-influence selection,
  * Kneser-Ney bigram scoring, and Bradley–Terry source rating. All
  * oracle-checked hash-exact; float paths follow the repo exactness
  * rules (lnq DECIMAL(18,6) quantization, DECIMAL(38,12) order-free
  * sums, expression trees mirrored shape-for-shape in the SQL).
  */
object CurateOps {

  // delegated to the one shared float-path contract (ExactAgg)
  private def lnq(c: Column) = graft.functions.ExactAgg.lnq(c)
  private def lnqSql(e: String) = graft.functions.ExactAgg.sqlLnq(e)
  private def exactSum(c: Column) = graft.functions.ExactAgg.dsum12(c)
  private def exactSumSql(e: String) =
    graft.functions.ExactAgg.sqlSum12(e)

  /** Order-free exact mean of a double array column: decimal-fold the
    * terms, divide by length once, as a single row-local expression.
    * The accumulator is DECIMAL(28,12), NOT 38: a (38,12)+(38,12) add
    * needs precision 39, and Spark's precision-loss rule silently
    * drops the result to scale 11 — one fewer quantized digit than
    * DuckDB's scale-12 decimal sum, a hash mismatch. (28,12)+(18,12)
    * stays at precision 29, so no digit is ever lost. */
  private def exactArrayMean(arr: Column): Column =
    aggregate(arr,
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 12)),
      (acc, v) => (acc + v.cast(DecimalType(18, 12)))
        .cast(DecimalType(28, 12)))
      .cast(DoubleType) / size(arr).cast(DoubleType)


  /** Per-held-out-document Kneser-Ney bigram scoring (d = 0.75):
    * (doc_id, n_bigrams, avg_ll) for the %10>=8 split under the model
    * trained on %10<8 — ONE definition shared by q275 (the raw scores)
    * and q313 (CCNet-style per-lang perplexity bucketing), so a
    * smoothing tweak moves both queries and both oracles together.
    * Scale shape unchanged from q275: three token-keyed hash
    * aggregates for the model, three shuffled equi-joins to score. */
  private def knDocScores(docs: DataFrame): DataFrame = {
        val base = docs
          .select(col("doc_id"), col("text"),
            split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
        val bg = base
          .select(col("doc_id"), col("ws"),
            explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
          .select(col("doc_id"),
            element_at(col("ws"), col("i")).as("w1"),
            element_at(col("ws"), col("i") + 1).as("w2"))
        val train = bg.filter(col("doc_id") % 10 < 8)
        val cb = train.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cu = cb.groupBy("w1")
          .agg(sum("cb").as("cu"), count(lit(1)).as("fw"))
        val pc = cb.groupBy("w2").agg(count(lit(1)).as("pcnt"))
        val bTot = cb.agg(count(lit(1)).as("btot"))
        val test = bg.filter(col("doc_id") % 10 >= 8)
        val d = lit(0.75)
        val scored = test
          .join(cb, Seq("w1", "w2"), "left")
          .join(cu, Seq("w1"), "left")
          .join(pc, Seq("w2"), "left")
          .crossJoin(broadcast(bTot))
          .withColumn("pcont",
            coalesce(col("pcnt").cast(DoubleType), lit(0.0)) /
              col("btot").cast(DoubleType))
          .withColumn("pkn",
            when(col("cu").isNotNull,
              (greatest(coalesce(col("cb").cast(DoubleType), lit(0.0)) -
                d, lit(0.0)) +
                d * col("fw").cast(DoubleType) * col("pcont")) /
                col("cu").cast(DoubleType))
              .otherwise(col("pcont")))
          .withColumn("p", greatest(col("pkn"), lit(1e-10)))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (exactSum(lnq(col("p"))) /
              count(lit(1)).cast(DoubleType)).as("avg_ll"))
  }

  /** SQL mirror of [[knDocScores]]: WITH-chain ending in a CTE
    * `perdoc(doc_id, n_bigrams, avg_ll)` (callers append their own
    * final SELECT, optionally with more CTEs first). */
  private val KnPerDocSql: String = s"""WITH wn AS (SELECT doc_id, string_split(text, ' ') AS ws,
            len(string_split(text, ' ')) AS n FROM documents),
        bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
          FROM wn, UNNEST(range(1, n)) AS t(i) WHERE n >= 2),
        cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
          FROM bg WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        cu AS (SELECT w1, sum(cb) AS cu, CAST(count(*) AS BIGINT) AS fw
          FROM cb GROUP BY 1),
        pc AS (SELECT w2, CAST(count(*) AS BIGINT) AS pcnt
          FROM cb GROUP BY 1),
        bt AS (SELECT CAST(count(*) AS BIGINT) AS btot FROM cb),
        sc AS (SELECT t.doc_id,
            greatest(CASE WHEN cu.cu IS NOT NULL
              THEN (greatest(COALESCE(CAST(cb.cb AS DOUBLE), 0.0)
                  - 0.75, 0.0)
                + 0.75 * CAST(cu.fw AS DOUBLE)
                  * (COALESCE(CAST(pc.pcnt AS DOUBLE), 0.0)
                    / CAST(bt.btot AS DOUBLE)))
                / CAST(cu.cu AS DOUBLE)
              ELSE COALESCE(CAST(pc.pcnt AS DOUBLE), 0.0)
                / CAST(bt.btot AS DOUBLE) END, 1e-10) AS p
          FROM bg t
          LEFT JOIN cb ON cb.w1 = t.w1 AND cb.w2 = t.w2
          LEFT JOIN cu ON cu.w1 = t.w1
          LEFT JOIN pc ON pc.w2 = t.w2, bt
          WHERE t.doc_id % 10 >= 8),
        perdoc AS (SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_bigrams,
          ${exactSumSql(lnqSql("p"))} / CAST(count(*) AS DOUBLE)
            AS avg_ll
        FROM sc GROUP BY doc_id)"""

  val qs: Seq[Q] = Seq(

    // Boilerplate-paragraph audit — the CCNet/RefinedWeb shared-line
    // removal primitive: sentences (distinct per doc, normalized)
    // that recur across >= 5 documents are boilerplate; report each
    // source's boilerplate share. Scale shape: explode -> one hash
    // aggregate on the sentence key -> semi-join back on the same key
    // -> per-source roll-up. Text payloads shuffle once, hashed
    // sentences carry the rest; never doc x doc.
    Q("q269_boilerplate_paragraphs",
      (s, dir) => {
        val paras = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(array_distinct(filter(
              transform(split(col("text"), "\\. "), x => lower(trim(x))),
              x => length(x) >= 20))).as("para"))
        val flagged = paras.groupBy("para")
          .agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 5)
          .select(col("para"), lit(1).as("bp"))
        paras.join(flagged, Seq("para"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("bp").isNotNull, lit(1L)).otherwise(lit(0L)))
              .as("n_boiler"))
          .withColumn("boiler_share",
            col("n_boiler").cast(DoubleType) /
              col("n_paras").cast(DoubleType))
          .orderBy("source")
      },
      Some("""WITH p AS (SELECT DISTINCT doc_id, source,
            lower(trim(t.para)) AS para
          FROM documents, UNNEST(string_split(text, '. ')) AS t(para)
          WHERE length(lower(trim(t.para))) >= 20),
        f AS (SELECT para FROM p GROUP BY 1 HAVING count(*) >= 5)
        SELECT source, CAST(count(*) AS BIGINT) AS n_paras,
          CAST(sum(CASE WHEN f.para IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
          CAST(sum(CASE WHEN f.para IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS boiler_share
        FROM p LEFT JOIN f USING (para)
        GROUP BY source ORDER BY source""")),

    // Split-drift chi-square — is the source distribution independent
    // of the hash split (doc_id % 10)? Per-source chi² contribution
    // from the contingency cells. Scale shape: one |sources|x10-cell
    // hash aggregate, marginals are two further tiny aggregates
    // broadcast back; the expected-count and cell terms are identical
    // double arithmetic in both engines, partials summed through
    // decimals.
    Q("q270_chi2_split_drift",
      (s, dir) => {
        // ONE scan: the contingency table is a single hash aggregate
        // (persisted — sources, splits, and the probe side all derive
        // from it), and the row/column/grand totals are windows over
        // that tiny (|sources| x 10 rows) aggregated frame. The chi²
        // statistic needs the DENSE table: a (source, split) cell a
        // source never produced is an observation O=0 that still
        // contributes E to the statistic — dropping it understates
        // drift exactly for the most-drifted sources. Densify via
        // sources x splits (splits ≤ 10 rows, a documented bounded
        // broadcast) and left-join the observed counts back.
        val obs = Tables.load(s, dir, "documents")
          .select(col("source"), (col("doc_id") % 10).as("split"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("o"))
          .persist()
        val dense = obs.select("source").distinct()
          .crossJoin(broadcast(obs.select("split").distinct()))
          .join(obs, Seq("source", "split"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
        val e = col("rtot").cast(DoubleType) *
          col("ctot").cast(DoubleType) / col("n").cast(DoubleType)
        dense.withColumn("rtot",
            sum("o").over(Window.partitionBy("source")))
          .withColumn("ctot", sum("o").over(Window.partitionBy("split")))
          .withColumn("n", sum("o").over(
            Window.partitionBy(lit(1))))
          .withColumn("cell",
            (col("o").cast(DoubleType) - e) *
              (col("o").cast(DoubleType) - e) / e)
          .groupBy("source")
          .agg(count(lit(1)).as("n_cells"),
            exactSum(col("cell")).as("chi2_part"))
          .orderBy("source")
      },
      Some(s"""WITH obs AS (SELECT source, doc_id % 10 AS split,
            CAST(count(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2),
        o AS (SELECT s.source, sp.split,
            CAST(COALESCE(obs.o, 0) AS BIGINT) AS o
          FROM (SELECT DISTINCT source FROM obs) s
          CROSS JOIN (SELECT DISTINCT split FROM obs) sp
          LEFT JOIN obs ON obs.source = s.source
            AND obs.split = sp.split),
        rs AS (SELECT source, sum(o) AS rtot FROM o GROUP BY 1),
        cs AS (SELECT split, sum(o) AS ctot FROM o GROUP BY 1),
        nt AS (SELECT sum(o) AS n FROM o),
        cells AS (SELECT o.source,
            (CAST(o.o AS DOUBLE) - CAST(rs.rtot AS DOUBLE)
              * CAST(cs.ctot AS DOUBLE) / CAST(nt.n AS DOUBLE))
            * (CAST(o.o AS DOUBLE) - CAST(rs.rtot AS DOUBLE)
              * CAST(cs.ctot AS DOUBLE) / CAST(nt.n AS DOUBLE))
            / (CAST(rs.rtot AS DOUBLE) * CAST(cs.ctot AS DOUBLE)
              / CAST(nt.n AS DOUBLE)) AS cell
          FROM o JOIN rs USING (source) JOIN cs USING (split), nt)
        SELECT source, CAST(count(*) AS BIGINT) AS n_cells,
          ${exactSumSql("cell")} AS chi2_part
        FROM cells GROUP BY source ORDER BY source""")),

    // Curriculum staging — order training data easy-to-hard without a
    // global sort: difficulty = rare-word ratio (corpus document
    // frequency <= 2) blended with mean word length, bucketed by FIXED
    // thresholds so stage assignment is a row-local CASE, not an
    // ntile over a global window (the q188 lesson: no full-corpus
    // sort per epoch at 100 TB). Scale shape: distinct (doc,word) ->
    // df hash aggregate -> one equi-join on the word key -> per-doc
    // roll-up -> |stages x sources| summary.
    Q("q271_curriculum_stages",
      (s, dir) => {
        val w = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("word"))
        val dfreq = w.select("doc_id", "word").distinct()
          .groupBy("word").agg(count(lit(1)).as("df"))
        val rare = dfreq.filter(col("df") <= 2)
          .select(col("word"), lit(1).as("rare"))
        val perDoc = w.join(rare, Seq("word"), "left")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_words"),
            sum(when(col("rare").isNotNull, lit(1L)).otherwise(lit(0L)))
              .as("n_rare"),
            sum(length(col("word")).cast(LongType)).as("chars"))
          .withColumn("difficulty",
            lit(0.6) * (col("n_rare").cast(DoubleType) /
              col("n_words").cast(DoubleType)) +
              lit(0.4) * (col("chars").cast(DoubleType) /
                col("n_words").cast(DoubleType) / lit(10.0)))
        perDoc
          .withColumn("stage",
            when(col("difficulty") < 0.2, lit(0L))
              .when(col("difficulty") < 0.3, lit(1L))
              .when(col("difficulty") < 0.4, lit(2L))
              .otherwise(lit(3L)))
          .groupBy("stage", "source")
          .agg(count(lit(1)).as("n_docs"),
            exactSum(col("difficulty")).as("sum_difficulty"))
          .orderBy("stage", "source")
      },
      Some(s"""WITH w AS (SELECT doc_id, source, t.word AS word
          FROM documents, UNNEST(string_split(text, ' ')) AS t(word)),
        dfreq AS (SELECT word, count(*) AS df
          FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY 1),
        rare AS (SELECT word, 1 AS rare FROM dfreq WHERE df <= 2),
        pd AS (SELECT doc_id, source,
            CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(CASE WHEN rare IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rare,
            CAST(sum(length(word)) AS BIGINT) AS chars
          FROM w LEFT JOIN rare USING (word) GROUP BY 1, 2),
        d AS (SELECT doc_id, source,
            0.6 * (CAST(n_rare AS DOUBLE) / CAST(n_words AS DOUBLE))
              + 0.4 * (CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE)
                / 10.0) AS difficulty
          FROM pd)
        SELECT CAST(CASE WHEN difficulty < 0.2 THEN 0
            WHEN difficulty < 0.3 THEN 1
            WHEN difficulty < 0.4 THEN 2 ELSE 3 END AS BIGINT) AS stage,
          source, CAST(count(*) AS BIGINT) AS n_docs,
          ${exactSumSql("difficulty")} AS sum_difficulty
        FROM d GROUP BY 1, 2 ORDER BY stage, source""")),

    // ROUGE-1/ROUGE-2 pair scoring (distinct-gram variant) between
    // consecutive-id document pairs — the summarization-eval overlap
    // measure. Scale shape: ONE equi-join on the pair key; the gram
    // sets ride as row-local arrays and every overlap/precision/
    // recall/F1 is computed inside the row with `array_intersect` —
    // no gram-level shuffle at all. The oracle deliberately takes the
    // OTHER formulation (gram tables joined on the gram key) so the
    // row-local arrays are proven against a relational replay.
    Q("q272_rouge_pairs",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val uni = array_distinct(ws)
        val bi = array_distinct(when(size(ws) >= 2,
          TextFuncs.shingles(col("text"), 2))
          .otherwise(array().cast("array<string>")))
        val d = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), uni.as("u"), bi.as("b"))
        val a = d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("id_a"),
            col("u").as("ua"), col("b").as("ba"))
        val bSide = d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") - 1).as("id_a"),
            col("doc_id").as("id_b"),
            col("u").as("ub"), col("b").as("bb"))
        def prf(ov: Column, na: Column, nb: Column) = {
          // a one-token doc has NO bigrams: its gram set is empty, so
          // the precision/recall denominator is 0 — that's "no
          // overlap measurable", reported as 0.0, never 0/0 = NaN
          val p = when(na > 0,
            ov.cast(DoubleType) / na.cast(DoubleType)).otherwise(0.0)
          val r = when(nb > 0,
            ov.cast(DoubleType) / nb.cast(DoubleType)).otherwise(0.0)
          val f = when(p + r > 0.0, lit(2.0) * p * r / (p + r))
            .otherwise(lit(0.0))
          (p, r, f)
        }
        val j = a.join(bSide, Seq("id_a"))
          .withColumn("ov1",
            size(array_intersect(col("ua"), col("ub"))).cast(LongType))
          .withColumn("ov2",
            size(array_intersect(col("ba"), col("bb"))).cast(LongType))
        val (p1, r1, f1) = prf(col("ov1"), size(col("ua")), size(col("ub")))
        val (p2, r2, f2) = prf(col("ov2"), size(col("ba")), size(col("bb")))
        j.select(col("id_a"), col("id_b"), col("ov1"),
            p1.as("p1"), r1.as("r1"), f1.as("f1"),
            col("ov2"), p2.as("p2"), r2.as("r2"), f2.as("f2"))
          .orderBy("id_a")
      },
      Some("""WITH u AS (SELECT DISTINCT doc_id, t.w AS w
          FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
        wn AS (SELECT doc_id, string_split(text, ' ') AS ws,
            len(string_split(text, ' ')) AS n FROM documents),
        b AS (SELECT DISTINCT doc_id,
            array_to_string(ws[i:i+1], ' ') AS g
          FROM wn, UNNEST(range(1, n)) AS t(i) WHERE n >= 2),
        pr AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
          FROM documents a JOIN documents b2 ON b2.doc_id = a.doc_id + 1
          WHERE a.doc_id % 2 = 0),
        nu AS (SELECT doc_id, count(*) AS n FROM u GROUP BY 1),
        nb AS (SELECT doc_id, count(*) AS n FROM b GROUP BY 1),
        o1 AS (SELECT pr.id_a, count(*) AS ov
          FROM pr JOIN u x ON x.doc_id = pr.id_a
          JOIN u y ON y.doc_id = pr.id_b AND y.w = x.w GROUP BY 1),
        o2 AS (SELECT pr.id_a, count(*) AS ov
          FROM pr JOIN b x ON x.doc_id = pr.id_a
          JOIN b y ON y.doc_id = pr.id_b AND y.g = x.g GROUP BY 1),
        m AS (SELECT pr.id_a, pr.id_b,
            CAST(COALESCE(o1.ov, 0) AS BIGINT) AS ov1,
            CAST(COALESCE(o2.ov, 0) AS BIGINT) AS ov2,
            na1.n AS na1, nb1.n AS nb1,
            COALESCE(na2.n, 0) AS na2, COALESCE(nb2.n, 0) AS nb2
          FROM pr
          LEFT JOIN o1 ON o1.id_a = pr.id_a
          LEFT JOIN o2 ON o2.id_a = pr.id_a
          JOIN nu na1 ON na1.doc_id = pr.id_a
          JOIN nu nb1 ON nb1.doc_id = pr.id_b
          LEFT JOIN nb na2 ON na2.doc_id = pr.id_a
          LEFT JOIN nb nb2 ON nb2.doc_id = pr.id_b)
        SELECT id_a, id_b, ov1,
          CAST(ov1 AS DOUBLE) / CAST(na1 AS DOUBLE) AS p1,
          CAST(ov1 AS DOUBLE) / CAST(nb1 AS DOUBLE) AS r1,
          CASE WHEN CAST(ov1 AS DOUBLE) / CAST(na1 AS DOUBLE)
              + CAST(ov1 AS DOUBLE) / CAST(nb1 AS DOUBLE) > 0
            THEN 2.0 * (CAST(ov1 AS DOUBLE) / CAST(na1 AS DOUBLE))
              * (CAST(ov1 AS DOUBLE) / CAST(nb1 AS DOUBLE))
              / (CAST(ov1 AS DOUBLE) / CAST(na1 AS DOUBLE)
                + CAST(ov1 AS DOUBLE) / CAST(nb1 AS DOUBLE))
            ELSE 0.0 END AS f1,
          ov2,
          CASE WHEN na2 > 0
            THEN CAST(ov2 AS DOUBLE) / CAST(na2 AS DOUBLE)
            ELSE 0.0 END AS p2,
          CASE WHEN nb2 > 0
            THEN CAST(ov2 AS DOUBLE) / CAST(nb2 AS DOUBLE)
            ELSE 0.0 END AS r2,
          CASE WHEN na2 > 0 AND nb2 > 0
              AND CAST(ov2 AS DOUBLE) / CAST(na2 AS DOUBLE)
                + CAST(ov2 AS DOUBLE) / CAST(nb2 AS DOUBLE) > 0
            THEN 2.0 * (CAST(ov2 AS DOUBLE) / CAST(na2 AS DOUBLE))
              * (CAST(ov2 AS DOUBLE) / CAST(nb2 AS DOUBLE))
              / (CAST(ov2 AS DOUBLE) / CAST(na2 AS DOUBLE)
                + CAST(ov2 AS DOUBLE) / CAST(nb2 AS DOUBLE))
            ELSE 0.0 END AS f2
        FROM m ORDER BY id_a""")),

    // MATTR — moving-average type-token ratio at window 25, the
    // windowed lexical-diversity metric that (unlike raw TTR) does not
    // decay with document length. Entirely row-local: the window TTRs
    // are a `transform` over an index sequence and the mean folds
    // through a decimal accumulator inside the row — zero shuffles
    // before the final order, the ideal 100 TB posture.
    Q("q273_mattr",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val n = size(ws)
        val wins = when(n >= 25,
          transform(sequence(lit(1), n - lit(24)),
            i => size(array_distinct(slice(ws, i, lit(25))))
              .cast(DoubleType) / lit(25.0)))
          .otherwise(array(size(array_distinct(ws)).cast(DoubleType) /
            n.cast(DoubleType)))
        // sortedSpread (round 19 §3): one explicit range exchange
        // parallelizes the single-row-group scan, presents the order,
        // and keeps the window-TTR transform out of the range sample
        graft.sources.ScanSpread
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), wins.as("wins"))
          .select(col("doc_id"),
            size(col("wins")).cast(LongType).as("n_windows"),
            exactArrayMean(col("wins")).as("mattr"))
      },
      Some("""WITH wn AS (SELECT doc_id, string_split(text, ' ') AS ws,
            len(string_split(text, ' ')) AS n FROM documents),
        wins AS (
          SELECT doc_id,
            CAST(len(list_distinct(ws[i:i+24])) AS DOUBLE) / 25.0 AS ttr
          FROM wn, UNNEST(range(1, n - 23)) AS t(i) WHERE n >= 25
          UNION ALL
          SELECT doc_id,
            CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(n AS DOUBLE)
          FROM wn WHERE n < 25)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
          CAST(sum(CAST(ttr AS DECIMAL(38,12))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS mattr
        FROM wins GROUP BY doc_id ORDER BY doc_id""")),

    // Centroid-influence selection — the embedding-space analog of
    // DSIR: score every candidate by exact cosine to the target-task
    // centroid (label-0 vectors) and keep the top 20 per label. The
    // centroid is a |dim|-row aggregate collapsed to ONE broadcast
    // row; scoring is a map-only pass over the candidates; the top-k
    // windows are truncated AT the row_number so the rank-limit
    // rewrite keeps per-partition top-k state. Never vector x vector.
    Q("q274_influence_select",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cen = emb.filter(col("label") === 0)
          .select(posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("pos")
          .agg((exactSum(col("v").cast(DoubleType)) /
            count(lit(1)).cast(DoubleType)).as("m"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("cvec"))
        val scored = emb.crossJoin(broadcast(cen))
          .withColumn("score",
            Similarity.exactCosine(col("embedding"), col("cvec")))
        val w = Window.partitionBy("label")
          .orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 20)
          .select(col("label").cast(LongType).as("label"),
            col("vec_id"), col("rank"), col("score"))
          .orderBy("label", "rank")
      },
      Some("""WITH ex AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS e,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
        cen AS (SELECT i,
            CAST(sum(CAST(e AS DECIMAL(38,12))) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) AS m
          FROM ex JOIN embeddings USING (vec_id)
          WHERE label = 0 GROUP BY i),
        dots AS (SELECT ex.vec_id,
            CAST(sum(CAST(ex.e * cen.m AS DECIMAL(18,9))) AS DOUBLE)
              AS dot,
            CAST(sum(CAST(ex.e * ex.e AS DECIMAL(18,9))) AS DOUBLE)
              AS nn
          FROM ex JOIN cen ON cen.i = ex.i GROUP BY 1),
        cn AS (SELECT CAST(sum(CAST(m * m AS DECIMAL(18,9))) AS DOUBLE)
            AS nn FROM cen),
        scored AS (SELECT e.vec_id, e.label,
            dots.dot / (sqrt(dots.nn) * sqrt(cn.nn)) AS score
          FROM embeddings e JOIN dots ON dots.vec_id = e.vec_id, cn)
        SELECT CAST(label AS BIGINT) AS label, vec_id, rank, score
        FROM (SELECT label, vec_id, score,
            row_number() OVER (PARTITION BY label
              ORDER BY score DESC, vec_id) AS rank
          FROM scored)
        WHERE rank <= 20 ORDER BY label, rank""")),

    // Kneser-Ney smoothed bigram scoring (d = 0.75) — train the LM on
    // the %10<8 hash split, score held-out docs by mean log
    // probability. The real KN: continuation probability from
    // distinct-predecessor counts, absolute discounting, context
    // back-off for unseen contexts. Scale shape: the model is three
    // token-keyed hash aggregates; scoring is three shuffled
    // equi-joins on those keys (bigram, context, continuation) — the
    // model never broadcasts whole and nothing is quadratic.
    Q("q275_kneser_ney",
      (s, dir) => knDocScores(Tables.load(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(KnPerDocSql +
        " SELECT doc_id, n_bigrams, avg_ll FROM perdoc ORDER BY doc_id")),

    // CCNet-style perplexity bucketing — the canonical LM quality
    // filter: score each held-out document under the KN bigram model
    // trained on the %10<8 split (the q275 machinery, ONE shared
    // definition), then cut each language into head / middle / tail
    // thirds by model log-likelihood (ntile over (avg_ll DESC,
    // doc_id) — the deterministic tiebreak both engines share). The
    // census per (lang, bucket) carries doc and bigram mass plus the
    // decimal-exact mean log-likelihood, so a wrong smoothing term, a
    // drifted split, or an off-by-one ntile moves a pinned number.
    // Scale shape: scoring is the audited three keyed joins; the
    // bucketing is a |held-out docs|-row window per lang — never the
    // corpus, never a global sort of raw text.
    Q("q313_ccnet_buckets",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val w = Window.partitionBy("lang")
          .orderBy(col("avg_ll").desc, col("doc_id"))
        knDocScores(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("t", ntile(3).over(w))
          .withColumn("bucket",
            when(col("t") === 1, "head")
              .when(col("t") === 2, "middle").otherwise("tail"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).cast(LongType).as("n_bigrams"),
            (exactSum(col("avg_ll")) /
              count(lit(1)).cast(DoubleType)).as("mean_ll"))
          .orderBy("lang", "bucket")
      },
      Some(KnPerDocSql + """,
        wl AS (SELECT p.doc_id, p.n_bigrams, p.avg_ll, d.lang
          FROM perdoc p JOIN documents d USING (doc_id)),
        nt AS (SELECT lang, n_bigrams, avg_ll,
            ntile(3) OVER (PARTITION BY lang
              ORDER BY avg_ll DESC, doc_id) AS t
          FROM wl)
        SELECT lang,
          CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
          """ + exactSumSql("avg_ll") + """ / CAST(count(*) AS DOUBLE)
            AS mean_ll
        FROM nt GROUP BY 1, 2 ORDER BY lang, bucket""")),


    // Bradley-Terry source rating from pairwise quality matches — the
    // arena-eval primitive. Matches pair consecutive doc ids; the
    // higher lexical-diversity score wins. Five minorization-
    // maximization rounds on the |sources|² aggregated match matrix;
    // each iterate quantized DECIMAL(18,6) so both engines walk the
    // identical float path, denominators decimal-summed (order-free).
    // Scale shape: the corpus collapses to the tiny match matrix in
    // ONE aggregate; every MM round is arithmetic on |sources| rows —
    // 100 TB of documents never touches the iteration.
    Q("q268_bradley_terry",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val d = Tables.load(s, dir, "documents").select(
          col("doc_id"), col("source"),
          (size(array_distinct(ws)).cast(DoubleType) /
            greatest(size(ws), lit(1)).cast(DoubleType)).as("sc"))
        val a = d.filter(col("doc_id") % 2 === 0).select(
          col("doc_id").as("ida"), col("source").as("sa"),
          col("sc").as("qa"))
        val b = d.filter(col("doc_id") % 2 === 1).select(
          (col("doc_id") - 1).as("ida"), col("source").as("sb"),
          col("sc").as("qb"))
        val m = a.join(b, Seq("ida"))
          .filter(col("sa") =!= col("sb"))
          .select(
            when(col("qa") >= col("qb"), col("sa")).otherwise(col("sb"))
              .as("winner"),
            when(col("qa") >= col("qb"), col("sb")).otherwise(col("sa"))
              .as("loser"))
        // directed pair counts i->j (i played j, n matches) + wins
        val dp = m.groupBy(col("winner").as("i"), col("loser").as("j"))
          .agg(count(lit(1)).as("w"))
        val dirAll = dp.select(col("i"), col("j"), col("w"))
          .unionByName(dp.select(col("j").as("i"), col("i").as("j"),
            lit(0L).as("w")))
          .groupBy("i", "j")
          .agg(sum("w").as("wij"))
        // The match matrix and player totals are |sources|²-/
        // |sources|-row frames, but they DERIVE from the full corpus:
        // left lazy, every MM round's plan re-embeds the corpus
        // aggregate and the final plan walks it 2^5 times (the LPA
        // plan-doubling lesson). Eagerly checkpoint both ONCE — the
        // corpus is scanned exactly once — then iterate on the tiny
        // leaves.
        val nAll = dirAll
          .join(dirAll.select(col("j").as("i"), col("i").as("j"),
            col("wij").as("wji")), Seq("i", "j"))
          .withColumn("n", col("wij") + col("wji"))
          .localCheckpoint()
        val players = nAll.groupBy("i")
          .agg(sum("wij").as("wins"), sum("n").as("matches"))
          .localCheckpoint()
        // each MM round consumes p TWICE (the pi and pj joins), so an
        // UNcheckpointed p doubles the plan per round — 2^5 copies of
        // round 1 by the end (157 planned exchanges, a 363-node
        // duplicated subtree in the r14 PlanAudit; exchange reuse hid
        // it at runtime but a reuse-miss would execute all 32).
        // Checkpointing the |sources|-row iterate per round keeps every
        // round's plan a join of tiny materialized leaves.
        var p = players.select(col("i"), lit(1.0).as("p"))
        for (_ <- 1 to 5) {
          val den = nAll
            .join(p.select(col("i"), col("p").as("pi")), Seq("i"))
            .join(p.select(col("i").as("j"), col("p").as("pj")),
              Seq("j"))
            .groupBy("i")
            .agg(exactSum(col("n").cast(DoubleType) /
              (col("pi") + col("pj"))).as("den"))
          p = players.join(den, Seq("i"))
            .select(col("i"),
              (col("wins").cast(DoubleType) / col("den"))
                .cast(DecimalType(18, 6)).cast(DoubleType).as("p"))
            .localCheckpoint()
        }
        players.join(p, Seq("i"))
          .select(col("i").as("source"), col("matches"),
            col("wins"), col("p").as("strength"))
          .orderBy("source")
      },
      Some {
        val mmRound = (prev: String, next: String) =>
          s"""$next AS (SELECT pl.i,
             CAST(CAST(CAST(pl.wins AS DOUBLE) / den.den
               AS DECIMAL(18,6)) AS DOUBLE) AS p
           FROM pl JOIN (SELECT na.i,
               ${exactSumSql(
              s"CAST(na.n AS DOUBLE) / (pa.p + pb.p)")} AS den
             FROM na JOIN $prev pa ON pa.i = na.i
             JOIN $prev pb ON pb.i = na.j GROUP BY na.i) den
             ON den.i = pl.i)"""
        s"""WITH d AS (SELECT doc_id, source,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(greatest(len(string_split(text, ' ')), 1)
                AS DOUBLE) AS sc
          FROM documents),
        mt AS (SELECT
            CASE WHEN a.sc >= b.sc THEN a.source ELSE b.source END
              AS winner,
            CASE WHEN a.sc >= b.sc THEN b.source ELSE a.source END
              AS loser
          FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 2 = 0 AND a.source <> b.source),
        dp AS (SELECT winner AS i, loser AS j,
            CAST(count(*) AS BIGINT) AS w FROM mt GROUP BY 1, 2),
        da AS (SELECT i, j, sum(w) AS wij FROM (
            SELECT i, j, w FROM dp
            UNION ALL SELECT j AS i, i AS j, 0 AS w FROM dp)
          GROUP BY 1, 2),
        na AS (SELECT x.i, x.j, x.wij + y.wij AS n, x.wij
          FROM da x JOIN da y ON y.i = x.j AND y.j = x.i),
        pl AS (SELECT i, sum(wij) AS wins, sum(n) AS matches
          FROM na GROUP BY 1),
        p0 AS (SELECT i, 1.0::DOUBLE AS p FROM pl),
        ${mmRound("p0", "p1")},
        ${mmRound("p1", "p2")},
        ${mmRound("p2", "p3")},
        ${mmRound("p3", "p4")},
        ${mmRound("p4", "p5")}
        SELECT pl.i AS source, CAST(pl.matches AS BIGINT) AS matches,
          CAST(pl.wins AS BIGINT) AS wins, p5.p AS strength
        FROM pl JOIN p5 ON p5.i = pl.i ORDER BY source"""
      })
  )
}
