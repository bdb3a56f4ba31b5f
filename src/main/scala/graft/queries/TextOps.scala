package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.functions.TextFuncs._
import graft.operators.{Dedup, PrefixSum}

/** Text-analysis operators over the `documents` corpus: token counting,
  * quality scoring, language ID, exact dedup, fingerprinting. These are
  * the training-data-pipeline primitives (BASELINE.json north star); all
  * are single-pass, codegen'd column expressions — at 100 TB each is one
  * scan with no shuffle except the dedup's hash aggregation.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "les", "est", "une", "dans"),
    "en" -> Seq("the", "a", "of", "and", "is"))

  /** Integer milli-logit of the linear quality model — ONE copy feeds
    * both Spark plans and DuckDB oracles (q178, q190). */
  private[graft] def qualityLogit: org.apache.spark.sql.Column =
    qualityLogitOf(col("text"))

  private def qualityLogitOf(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val ws = split(text, " ")
    lit(-700L) + lit(20L) * size(ws).cast("long") +
      lit(150L) * size(filter(ws, w => w.isInCollection(stopwords)))
        .cast("long") -
      lit(90L) * size(filter(ws, w => w.rlike("^[0-9]+$"))).cast("long") -
      lit(2L) * length(text).cast("long")
  }

  private[queries] def qualityLogitSql: String = qualityLogitSqlOf("text")

  private def qualityLogitSqlOf(textExpr: String): String =
    s"""(-700 + 20 * len(string_split($textExpr, ' '))
       + 150 * len(list_filter(string_split($textExpr, ' '),
           w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")})))
       - 90 * len(list_filter(string_split($textExpr, ' '),
           w -> regexp_matches(w, '^[0-9]+$$')))
       - 2 * length($textExpr))"""

  val qs: Seq[Q] = Seq(

    // Token counting + length stats per document.
    Q("q18_text_stats",
      (s, dir) => {
        // sortedSpread (round 19 §3): one explicit range exchange
        // presents the order, keeps the heavy projection out of the
        // range-boundary sample pass, and pins the partition count so
        // AQE can't coalesce the projection onto one task — rows and
        // order identical to project-then-orderBy (OPTIMIZATION_r19.md)
        graft.sources.ScanSpread
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(
            col("doc_id"),
            tokenCount(col("text")).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("len_chars"),
            avgWordLen(col("text")).as("avg_word_len"))
      },
      Some("""SELECT doc_id,
          len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
          length(text) AS len_chars,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
            AS avg_word_len
        FROM documents ORDER BY doc_id""")),

    // Quality scoring: stopword ratio + length gates → keep flag
    // (standard corpus-filter heuristics).
    Q("q19_text_quality",
      (s, dir) => {
        val ratio = stopwordRatio(col("text"), stopwords)
        val nTok = tokenCount(col("text"))
        graft.sources.ScanSpread // sortedSpread — see q18
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(
            col("doc_id"), col("lang"),
            ratio.as("stop_ratio"),
            (nTok >= 20 && nTok <= 95 && ratio < lit(0.5)).as("keep"))
      },
      Some(s"""SELECT doc_id, lang,
          CAST(len(list_filter(string_split(text, ' '),
              w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")})))
            AS DOUBLE)
            / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
            AS stop_ratio,
          (len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 20 AND 95)
            AND (CAST(len(list_filter(string_split(text, ' '),
                w -> w IN (${stopwords.map(w => s"'$w'").mkString(", ")})))
              AS DOUBLE)
              / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
              < 0.5) AS keep
        FROM documents ORDER BY doc_id""")),

    // Marker-word language ID (n-gram heuristic). Accuracy on synthetic
    // word-salad text is incidental — the operator and its determinism
    // are what the oracle checks.
    Q("q20_lang_id",
      (s, dir) => {
        graft.sources.ScanSpread // sortedSpread — see q18
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(
            col("doc_id"), col("lang"),
            langId(col("text"), langMarkers).as("pred_lang"))
      },
      Some {
        val padded = "' ' || text || ' '"
        def score(ws: Seq[String]) = ws.map(w =>
          s"(CASE WHEN position(' $w ' IN $padded) > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val scores = langMarkers.map { case (l, ws) => l -> score(ws) }
        val best = "GREATEST(" + scores.map(_._2).mkString(", ") + ")"
        val cases = scores.map { case (l, sc) =>
          s"WHEN ($sc) = _best AND _best > 0 THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id, lang,
            CASE $cases ELSE 'und' END AS pred_lang
          FROM (SELECT doc_id, lang, text, $best AS _best FROM documents)
          ORDER BY doc_id"""
      }),

    // Exact dedup: md5 content hash + duplicate-group size per doc.
    // Distributed hash-groupBy — at 100 TB this is one shuffle keyed on
    // a 128-bit hash, never a global sort.
    Q("q21_dedup_exact",
      (s, dir) => {
        val w = Window.partitionBy(col("fp"))
        Tables.load(s, dir, "documents")
          .withColumn("fp", md5(col("text")))
          .withColumn("dup_cnt", count(lit(1)).over(w))
          .withColumn("keeper", min(col("doc_id")).over(w))
          .select("doc_id", "fp", "dup_cnt", "keeper")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, fp, dup_cnt, keeper FROM (
          SELECT doc_id, md5(text) AS fp,
            count(*) OVER (PARTITION BY md5(text)) AS dup_cnt,
            min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
          FROM documents) ORDER BY doc_id""")),

    // BPE-style token accounting: tokens under the GPT-2-family
    // pre-tokenizer regex (RE2-compatible subset — identical pattern on
    // both engines), total + distinct counts per document. The
    // per-document token cost is the budgeting primitive of every
    // training-data pipeline.
    Q("q54_token_regex",
      (s, dir) => {
        val toks = bpeTokens(col("text"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("n_bpe"),
            size(array_distinct(toks)).cast("long").as("n_uniq"))
          .orderBy("doc_id")
      },
      Some {
        val pat = bpePattern.replace("'", "''")
        s"""SELECT doc_id,
          len(regexp_extract_all(text, '$pat')) AS n_bpe,
          len(list_distinct(regexp_extract_all(text, '$pat'))) AS n_uniq
        FROM documents ORDER BY doc_id"""
      }),

    // Normalized fingerprint (case/punctuation-insensitive near-exact
    // dedup key).
    Q("q22_fingerprint",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), fingerprint(col("text")).as("norm_fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS norm_fp
        FROM documents ORDER BY doc_id""")),

    // The END-TO-END training-corpus filter (C4-style): quality gate →
    // language gate → exact dedup (keep lowest id per content hash) →
    // MinHash-LSH near-dup removal (drop the greater id of every pair
    // with estimated jaccard ≥ 0.75) → per-label survivor/token
    // accounting. Every stage reuses an operator that is individually
    // oracle-checked (q19/q20/q21/q24); this query hash-checks their
    // COMPOSITION — the pipeline a 100 TB corpus actually runs, where
    // each stage is one scan or one hash shuffle.
    Q("q69_corpus_filter_pipeline",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val nTok = tokenCount(col("text"))
        val filtered = docs
          .withColumn("n_tokens", nTok.cast("long"))
          .filter(col("n_tokens") >= 20 && col("n_tokens") <= 95 &&
            stopwordRatio(col("text"), stopwords) < 0.5)
          .filter(langId(col("text"), langMarkers) === "en")
        // keep-first per content hash as a struct-MIN aggregate —
        // map-side combinable, so a boilerplate page duplicated
        // millions of times collapses to one candidate per input
        // partition before the shuffle (the window formulation buffers
        // the whole duplicate group on one reducer); the winning
        // struct carries every downstream column, so no join back.
        // Cached: the gate+dedup subplan (regex quality scores,
        // langID) otherwise re-executes for the LSH side AND the
        // anti-join side.
        val keepers = filtered
          .groupBy(md5(col("text")).as("_fp"))
          .agg(min(struct(col("doc_id"), col("lang"), col("text"),
            col("n_tokens"))).as("_w"))
          .select(col("_w.doc_id").as("doc_id"), col("_w.lang").as("lang"),
            col("_w.text").as("text"), col("_w.n_tokens").as("n_tokens"))
          .cache()
        val nearDupLosers = graft.operators.Dedup
          .minHashLsh(keepers.select("doc_id", "text"), 3, 8, 4,
            maxBucketWidth = 1 << 20)
          .filter(col("est_jaccard") >= 0.75)
          .select(col("doc_b").as("doc_id")).distinct()
        keepers.join(nearDupLosers, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"))
          .orderBy("lang")
      },
      Some {
        val stopList = stopwords.map(w => s"'$w'").mkString(", ")
        val stopRatio =
          s"""CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ($stopList))) AS DOUBLE)
            / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)"""
        val padded = "' ' || text || ' '"
        def score(ws: Seq[String]) = ws.map(w =>
          s"(CASE WHEN position(' $w ' IN $padded) > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val scores = langMarkers.map { case (l, ws) => l -> score(ws) }
        val best = "GREATEST(" + scores.map(_._2).mkString(", ") + ")"
        val langCases = scores.map { case (l, sc) =>
          s"WHEN ($sc) = _best AND _best > 0 THEN '$l'"
        }.mkString(" ")
        s"""WITH gated AS (
            SELECT doc_id, lang, text,
              len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM (SELECT doc_id, lang, text, $best AS _best FROM documents)
            WHERE len(regexp_split_to_array(trim(text), '\\s+'))
                BETWEEN 20 AND 95
              AND ($stopRatio) < 0.5
              AND (CASE $langCases ELSE 'und' END) = 'en'),
          kept AS (
            SELECT doc_id, lang, text, n_tokens FROM (
              SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS _k
              FROM gated)
            WHERE doc_id = _k),
          ${DedupOps.lshCandidateCtes("kept")},
          losers AS (SELECT DISTINCT doc_b AS doc_id FROM cand
            JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
            WHERE CAST(${DedupOps.lshAgreeSql} AS DOUBLE)
              / ${DedupOps.lshNumHashes}.0 >= 0.75)
          SELECT lang, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS total_tokens
          FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM losers)
          GROUP BY lang ORDER BY lang"""
      }),

    // Repetition-ratio quality stats (Gopher-style): duplicate-word
    // fraction and most-frequent-bigram share per document, with a
    // keep flag. Two hash aggregations over exploded tokens — no
    // sorts, no windows; at 100 TB each agg map-side combines to one
    // row per (doc, gram) then per doc. Thresholds tuned to the
    // synthetic word-salad corpus (real Gopher cuts use 0.2–0.3 on
    // natural text); the operator, not the constants, is the point.
    Q("q72_repetition_quality",
      (s, dir) => {
        val docs = graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents"))
        val words = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        val ws = words.groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          countDistinct(col("w")).as("n_distinct_words"))
        val bs = docs.filter(size(split(col("text"), " ")) >= 2)
          .select(col("doc_id"),
            explode(shingles(col("text"), 2)).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(sum(col("c")).as("n_bigrams"),
            max(col("c")).as("top_bigram_n"))
        val dupFrac = (col("n_words") - col("n_distinct_words"))
          .cast(DoubleType) / col("n_words").cast(DoubleType)
        val topFrac = col("top_bigram_n").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)
        ws.join(bs, "doc_id")
          .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
            col("n_bigrams"), col("top_bigram_n"),
            dupFrac.as("dup_word_frac"), topFrac.as("top_bigram_frac"),
            (dupFrac < 0.6 && topFrac < 0.05).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH words AS (SELECT doc_id,
            unnest(string_split(text, ' ')) AS w FROM documents),
        ws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_words
          FROM words GROUP BY 1),
        bg AS (SELECT doc_id, wl[i] || ' ' || wl[i+1] AS bg
          FROM (SELECT doc_id, string_split(text, ' ') AS wl
            FROM documents),
            UNNEST(range(1, len(wl))) AS t(i)),
        bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
            CAST(max(c) AS BIGINT) AS top_bigram_n FROM bc GROUP BY 1)
        SELECT ws.doc_id, n_words, n_distinct_words, n_bigrams,
          top_bigram_n,
          CAST(n_words - n_distinct_words AS DOUBLE)
            / CAST(n_words AS DOUBLE) AS dup_word_frac,
          CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            AS top_bigram_frac,
          (CAST(n_words - n_distinct_words AS DOUBLE)
              / CAST(n_words AS DOUBLE) < 0.6
            AND CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
              < 0.05) AS keep
        FROM ws JOIN bs ON ws.doc_id = bs.doc_id
        ORDER BY ws.doc_id""")),

    // Top-k salient terms per document, scored tf/df (df-normalized
    // term frequency — the tf-idf family with a RATIONAL weight so the
    // score is bit-exact across engines; ln-based idf differs in the
    // last ulp between libm implementations, which a hash-compare
    // oracle can't tolerate). Ranking: score desc, term asc tie-break.
    // Two shuffles (doc,term) tf agg → term-keyed df join; the window
    // partitions by doc — at 100 TB df is the vocab table, which
    // shuffles fine and is NOT forced broadcast.
    Q("q74_tfidf_topk",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tf = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        tf.join(df_, "term")
          .withColumn("score",
            col("tf").cast(DoubleType) / col("df").cast(DoubleType))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"),
            col("df"), col("score"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tf AS (SELECT doc_id, w AS term,
            CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) GROUP BY 1, 2),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY 1),
        scored AS (SELECT doc_id, term, tf.tf, df.df,
            CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
          FROM tf JOIN df USING (term)),
        ranked AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC)
          AS BIGINT) AS rank FROM scored)
        SELECT doc_id, rank, term, tf, df, score FROM ranked
        WHERE rank <= 5 ORDER BY doc_id, rank""")),

    // Deterministic hash split + stratified sampling: the md5 of the
    // doc id is a uniform [0,1) surrogate, so fixed hex thresholds
    // carve reproducible train/val/test splits (5%/5%/90%) and
    // per-stratum sample rates (50% of en, 20% of the rest) — the
    // reproducible-sampling primitive every corpus pipeline needs
    // (rerunning on new data never reshuffles old assignments, unlike
    // rand()). Pure map-side expression; zero shuffles at any scale.
    Q("q76_hash_split",
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 8)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            h.as("hkey"),
            when(h < "0ccccccc", "val")
              .when(h < "19999999", "test")
              .otherwise("train").as("split"),
            (h < when(col("lang") === "en", "80000000")
              .otherwise("33333333")).as("sampled"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hkey,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < '0ccccccc' THEN 'val'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < '19999999' THEN 'test'
            ELSE 'train' END AS split,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            < (CASE WHEN lang = 'en' THEN '80000000'
               ELSE '33333333' END) AS sampled
        FROM documents ORDER BY doc_id""")),

    // LM sequence packing (concat-and-chunk): documents concatenated
    // in doc_id order and cut every 512 tokens; each doc reports its
    // global token offset, its pack id, and how many packs it spans.
    // The global offset comes from PrefixSum.exclusiveCumsum — the
    // two-phase parallel scan — NOT a partition-less window (which
    // would funnel 100 TB through one task).
    Q("q80_sequence_pack",
      (s, dir) => {
        val t = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            tokenCount(col("text")).cast("long").as("n_tokens"))
        PrefixSum.exclusiveCumsum(t, col("doc_id"), col("n_tokens"),
            "start_offset", bucketSize = 100L)
          .withColumn("pack_id", expr("start_offset DIV 512"))
          .withColumn("packs_spanned",
            expr("(start_offset + n_tokens - 1) DIV 512") -
              col("pack_id") + lit(1L))
          .select("doc_id", "n_tokens", "start_offset", "pack_id",
            "packs_spanned")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS n_tokens
          FROM documents),
        c AS (SELECT doc_id, n_tokens,
            COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS start_offset
          FROM t)
        SELECT doc_id, n_tokens, start_offset,
          start_offset // 512 AS pack_id,
          (start_offset + n_tokens - 1) // 512
            - start_offset // 512 + 1 AS packs_spanned
        FROM c ORDER BY doc_id""")),

    // PII redaction: scrub emails / phone numbers / IPv4 addresses and
    // count each kind — the privacy-scrubbing pass of a corpus
    // pipeline. The PII-bearing text is synthesized deterministically
    // from the customer table on BOTH sides (the corpus tables carry
    // no PII), so the redaction itself — three chained
    // replace-all passes + extract-all counts over RE2-compatible
    // patterns — is what the hash check exercises. Pure map-side
    // expression: one scan, zero shuffles at any scale.
    Q("q83_pii_redaction",
      (s, dir) => {
        val ck = col("c_custkey")
        val text = concat(
          lit("Reach "), col("c_name"),
          when(ck % 5 === 0, lit(" (no mail)"))
            .otherwise(concat(lit(" at user"), ck.cast("string"),
              lit("@corp.example.com"))),
          lit(" or call "), (ck % 900 + 100).cast("string"),
          lit("-555-"), ((ck * 7) % 9000 + 1000).cast("string"),
          lit(" from 10.0."), (ck % 256).cast("string"), lit("."),
          ((ck * 3) % 256).cast("string"),
          when(ck % 3 === 0, lit(" backup 192.168.1.1")).otherwise(lit("")))
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b\\d{3}-555-\\d{4}\\b"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), text.as("text"))
          .select(col("c_custkey"),
            size(regexp_extract_all(col("text"), lit(email), lit(0)))
              .cast("long").as("n_email"),
            size(regexp_extract_all(col("text"), lit(phone), lit(0)))
              .cast("long").as("n_phone"),
            size(regexp_extract_all(col("text"), lit(ip), lit(0)))
              .cast("long").as("n_ip"),
            regexp_replace(regexp_replace(regexp_replace(col("text"),
              lit(email), lit("<EMAIL>")),
              lit(phone), lit("<PHONE>")),
              lit(ip), lit("<IP>")).as("redacted"))
          .orderBy("c_custkey")
      },
      Some("""WITH t AS (SELECT c_custkey,
            'Reach ' || c_name ||
            (CASE WHEN c_custkey % 5 = 0 THEN ' (no mail)'
              ELSE ' at user' || CAST(c_custkey AS VARCHAR)
                || '@corp.example.com' END) ||
            ' or call ' || CAST(c_custkey % 900 + 100 AS VARCHAR) ||
            '-555-' || CAST((c_custkey * 7) % 9000 + 1000 AS VARCHAR) ||
            ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
            CAST((c_custkey * 3) % 256 AS VARCHAR) ||
            (CASE WHEN c_custkey % 3 = 0 THEN ' backup 192.168.1.1'
              ELSE '' END) AS text
          FROM customer)
        SELECT c_custkey,
          len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          len(regexp_extract_all(text,
            '\b\d{3}-555-\d{4}\b')) AS n_phone,
          len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
            '\b\d{3}-555-\d{4}\b', '<PHONE>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
            AS redacted
        FROM t ORDER BY c_custkey""")),

    // BM25 ranking (k1=1.2, b=0.75) of documents against a fixed term
    // set — the relevance primitive behind quality-biased corpus
    // sampling and retrieval-based decontamination. The idf is
    // quantized to DECIMAL(18,6): natural log is NOT bit-identical
    // across engines (measured: ~1e-3 of values differ in the last
    // ulp), and the quantization absorbs that while every other step
    // is exactly-rounded rational double arithmetic mirrored
    // shape-for-shape in the oracle. Per-term scores land in separate
    // columns (one row per (doc, term) → conditional sum is exact) and
    // combine left-associated, so the total is order-free.
    Q("q85_bm25",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val terms = Seq("table", "spark", "query")
        val dl = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl"))
        val stats = dl.agg(
          count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("avgdl"))
        val tf = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val idf = df_.crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0))
              .cast(org.apache.spark.sql.types.DecimalType(18, 6))
              .cast(DoubleType))
          .select("term", "idf")
        val scored = tf.join(broadcast(idf), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats.select("avgdl")))
          .withColumn("sc",
            col("idf") * ((col("tf").cast(DoubleType) * lit(2.2)) /
              (col("tf").cast(DoubleType) + lit(1.2) *
                (lit(0.25) + lit(0.75) *
                  (col("dl").cast(DoubleType) / col("avgdl"))))))
        val perTerm = terms.map(t =>
          sum(when(col("term") === t, col("sc"))).as(s"s_$t"))
        scored.groupBy("doc_id")
          .agg(perTerm.head, perTerm.tail: _*)
          .select(col("doc_id") +: terms.map(t =>
            coalesce(col(s"s_$t"), lit(0.0)).as(s"s_$t")) :+
            terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
              .reduce(_ + _).as("bm25"): _*)
          .orderBy("doc_id")
      },
      Some("""WITH dl AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
          FROM documents),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM dl),
        tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
          WHERE w IN ('table', 'spark', 'query') GROUP BY 1, 2),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY 1),
        idf AS (SELECT term, CAST(CAST(
            ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            AS DECIMAL(18,6)) AS DOUBLE) AS idf
          FROM df, stats),
        scored AS (SELECT doc_id, term,
            idf * ((CAST(tf AS DOUBLE) * 2.2) /
              (CAST(tf AS DOUBLE) + 1.2 *
                (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS sc
          FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats),
        agg AS (SELECT doc_id,
            sum(CASE WHEN term = 'table' THEN sc END) AS s_table,
            sum(CASE WHEN term = 'spark' THEN sc END) AS s_spark,
            sum(CASE WHEN term = 'query' THEN sc END) AS s_query
          FROM scored GROUP BY 1)
        SELECT doc_id,
          COALESCE(s_table, 0.0) AS s_table,
          COALESCE(s_spark, 0.0) AS s_spark,
          COALESCE(s_query, 0.0) AS s_query,
          COALESCE(s_table, 0.0) + COALESCE(s_spark, 0.0)
            + COALESCE(s_query, 0.0) AS bm25
        FROM agg ORDER BY doc_id""")),

    // Per-source quota capping: keep the 15 lowest-id documents of
    // each source — the per-domain cap every web-corpus pipeline
    // applies so boilerplate-heavy domains can't dominate the mix. One
    // hash shuffle on source + a within-partition sort; no global
    // sort until the (already capped) output ordering.
    Q("q86_source_quota",
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        Tables.load(s, dir, "documents")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 15)
          .select("doc_id", "source", "rk")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, rk FROM (
          SELECT doc_id, source, CAST(row_number() OVER (
            PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rk
          FROM documents)
        WHERE rk <= 15 ORDER BY doc_id""")),

    // Inverted index build: term → document frequency + the first 20
    // postings (sorted doc ids). One explode + one hash aggregation;
    // the postings list is the BOUNDED bottom-k aggregate
    // (expressions/TopKAggregate) rather than collect_list+slice, so a
    // stopword's aggregation state holds ≤ 4×20 entries instead of its
    // entire posting set before truncation — the difference between a
    // capped row and an OOM at corpus scale (the df column still
    // counts the full set).
    Q("q87_inverted_index",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("df"),
            array_join(
              transform(
                graft.expressions.TopKAggregate.bottomK(
                  col("doc_id").cast(DoubleType), col("doc_id"), 20),
                t => t.getField("_2").cast("string")), ",").as("postings"))
          .orderBy("term")
      },
      Some("""SELECT term, CAST(count(*) AS BIGINT) AS df,
          array_to_string(list_slice(list_sort(list(doc_id)), 1, 20),
            ',') AS postings
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
            AS term FROM documents)
        GROUP BY term ORDER BY term""")),

    // Collocation mining by LIFT — PMI's ranking without its float
    // log: lift = N·c(ab) / (c(a)·c(b)) orders pairs identically to
    // PMI (log is monotone) but stays a single mirrored double
    // division over exact integer counts, so the scores are
    // oracle-exact. Shape at 100 TB: two map-side-combinable hash
    // aggregates (unigrams, adjacent bigrams), the unigram table
    // joins in twice (broadcast-eligible — it is vocabulary-sized),
    // one 1-row total broadcast, a min-count floor prunes the long
    // tail BEFORE the join, and the final top-20 is a rank window
    // over the floored candidate set only.
    Q("q146_collocations",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val words = docs.select(split(col("text"), " ").as("ws"))
        val uni = words
          .select(explode(col("ws")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val bi = words
          .select(explode(expr(
            """CASE WHEN size(ws) >= 2 THEN
                 transform(sequence(0, size(ws) - 2),
                   i -> struct(element_at(ws, i + 1) AS a,
                     element_at(ws, i + 2) AS b))
               ELSE array() END""")).as("p"))
          .filter(length(col("p.a")) > 0 && length(col("p.b")) > 0)
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= 5)
        val total = uni.agg(sum(col("c1")).as("n_tokens"))
        val lift = bi
          .join(uni.select(col("w").as("a"), col("c1").as("ca")), "a")
          .join(uni.select(col("w").as("b"), col("c1").as("cb")), "b")
          .crossJoin(broadcast(total))
          .select(col("a"), col("b"), col("cab"),
            (col("n_tokens").cast("double") * col("cab").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double")))
              .as("lift"))
        lift
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("lift").desc, col("a"), col("b")))
            .cast("long"))
          .filter(col("rk") <= 20)
          .select("rk", "a", "b", "cab", "lift")
          .orderBy("rk")
      },
      Some("""WITH w AS (SELECT string_split(text, ' ') AS ws
            FROM documents),
        uni AS (SELECT word, count(*) AS c1 FROM (
            SELECT unnest(ws) AS word FROM w)
          WHERE len(word) > 0 GROUP BY 1),
        bi AS (SELECT a, b, count(*) AS cab FROM (
            SELECT ws[i] AS a, ws[i + 1] AS b
            FROM w, UNNEST(range(1, len(ws))) AS t(i))
          WHERE len(a) > 0 AND len(b) > 0
          GROUP BY 1, 2 HAVING count(*) >= 5),
        tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tokens FROM uni),
        lift AS (SELECT bi.a, bi.b, bi.cab,
            CAST(n_tokens AS DOUBLE) * CAST(cab AS DOUBLE) /
              (CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE)) AS lift
          FROM bi JOIN uni ua ON bi.a = ua.word
            JOIN uni ub ON bi.b = ub.word, tot)
        SELECT rk, a, b, cab, lift FROM (
          SELECT a, b, cab, lift, CAST(row_number() OVER (
              ORDER BY lift DESC, a, b) AS BIGINT) AS rk
          FROM lift)
        WHERE rk <= 20 ORDER BY rk""")),

    // Rule-based quality composite — the Gopher/Dolma filter-report
    // shape: several independent heuristics evaluated per document,
    // each surfaced as its own signal, failures joined into a
    // `reject_reasons` audit string (fixed rule order), and `keep` the
    // conjunction. Distinct from q19 (which gates on stop-ratio and
    // length alone): this adds mean-word-length bounds and a
    // top-word-fraction repetition gate, and keeps WHY a document was
    // dropped — the part a curation pipeline actually reviews. One
    // explode → (doc, word) hash count → per-doc roll-up: two
    // map-side-combinable aggregations, no window, no join back to the
    // raw text (word-derived stats reconstruct length/count exactly
    // for the single-space corpus; the oracle mirrors the same
    // reconstruction).
    Q("q156_quality_rules",
      (s, dir) => {
        val wf = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("doc_id", "w")
          .agg(count(lit(1)).as("c"))
        val d = wf.groupBy("doc_id")
          .agg(sum(col("c")).as("n_words"),
            max(col("c")).as("top_c"),
            sum(col("c") * length(col("w"))).as("n_chars"),
            sum(when(col("w").isInCollection(stopwords), col("c"))
              .otherwise(lit(0L))).as("stop_hits"))
        val nW = col("n_words").cast(DoubleType)
        val awl = col("n_chars").cast(DoubleType) / nW
        val topF = col("top_c").cast(DoubleType) / nW
        val rWords = col("n_words") >= 15 && col("n_words") <= 100
        val rLen = awl >= 3.0 && awl <= 10.0
        val rTop = topF <= 0.2
        val rStop = col("stop_hits") >= 2
        d.select(col("doc_id"), col("n_words"),
            awl.as("avg_word_len"), topF.as("top_frac"),
            col("stop_hits"),
            (rWords && rLen && rTop && rStop).as("keep"),
            concat_ws(",",
              when(!rWords, lit("n_words")),
              when(!rLen, lit("word_len")),
              when(!rTop, lit("repetition")),
              when(!rStop, lit("stopwords"))).as("reject_reasons"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id,
            unnest(string_split(text, ' ')) AS w FROM documents),
        wf AS (SELECT doc_id, w, count(*) AS c FROM w
          WHERE len(w) > 0 GROUP BY 1, 2),
        d AS (SELECT doc_id,
            CAST(sum(c) AS BIGINT) AS n_words,
            CAST(max(c) AS BIGINT) AS top_c,
            CAST(sum(c * len(w)) AS BIGINT) AS n_chars,
            CAST(sum(CASE WHEN w IN (${stopwords
              .map(w => s"'$w'").mkString(", ")})
              THEN c ELSE 0 END) AS BIGINT) AS stop_hits
          FROM wf GROUP BY 1)
        SELECT doc_id, n_words,
          CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
            AS avg_word_len,
          CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_frac,
          stop_hits,
          (n_words BETWEEN 15 AND 100)
            AND (CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
              BETWEEN 3.0 AND 10.0)
            AND (CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2)
            AND (stop_hits >= 2) AS keep,
          concat_ws(',',
            CASE WHEN NOT (n_words BETWEEN 15 AND 100)
              THEN 'n_words' END,
            CASE WHEN NOT (CAST(n_chars AS DOUBLE)
                / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0)
              THEN 'word_len' END,
            CASE WHEN NOT (CAST(top_c AS DOUBLE)
                / CAST(n_words AS DOUBLE) <= 0.2)
              THEN 'repetition' END,
            CASE WHEN NOT (stop_hits >= 2)
              THEN 'stopwords' END) AS reject_reasons
        FROM d ORDER BY doc_id""")),

    // Model-based quality scoring — a bigram language model trained on
    // the corpus itself (the KenLM-filter shape without the float
    // log): each document's mean MLE bigram probability
    // p(b|a) = c(a,b) / c(a·) flags token-salad outliers low and
    // formulaic text high. Per-occurrence probabilities are one
    // mirrored double division over exact integer counts, cast to
    // DECIMAL(38,12) BEFORE the per-doc sum (order-free, engine-exact
    // — the q152/q134 rule; values ≤ 1.0 keep scale 12 within the
    // 15-digit agreement bound). Plan: the (doc, a, b) occurrence
    // frame feeds the two count aggregations AND the probability
    // join — three consumers of one subtree; the model tables are
    // vocabulary-sized, so their joins are broadcast-eligible at any
    // corpus scale, and nothing ever pairs documents with documents.
    Q("q159_bigram_lm_score",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 12)
        val docBi = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(ws) >= 2 THEN
                 transform(sequence(0, size(ws) - 2),
                   i -> struct(element_at(ws, i + 1) AS a,
                     element_at(ws, i + 2) AS b))
               ELSE array() END""")).as("p"))
          .filter(length(col("p.a")) > 0 && length(col("p.b")) > 0)
          .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
        val uni = docBi.groupBy("a").agg(count(lit(1)).as("ca"))
        val bi = docBi.groupBy("a", "b").agg(count(lit(1)).as("cab"))
        docBi
          .join(bi, Seq("a", "b")).join(uni, Seq("a"))
          .select(col("doc_id"),
            (col("cab").cast(DoubleType) / col("ca").cast(DoubleType))
              .cast(dec).as("p"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("p")).as("sp"))
          .select(col("doc_id"), col("n_bigrams"),
            (col("sp").cast(DoubleType) /
              col("n_bigrams").cast(DoubleType)).as("avg_prob"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
        db AS (SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
          FROM w, UNNEST(range(1, len(ws))) AS t(i)
          WHERE len(ws[i]) > 0 AND len(ws[i + 1]) > 0),
        uni AS (SELECT a, count(*) AS ca FROM db GROUP BY 1),
        bi AS (SELECT a, b, count(*) AS cab FROM db GROUP BY 1, 2),
        p AS (SELECT d.doc_id,
            CAST(CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE)
              AS DECIMAL(38,12)) AS p
          FROM db d
          JOIN bi ON d.a = bi.a AND d.b = bi.b
          JOIN uni ON d.a = uni.a)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_prob
        FROM p GROUP BY 1 ORDER BY 1""")),

    // Dataset card — the per-source corpus report a curation run ends
    // with: document and token counts, mean length, language
    // diversity, and the exact-duplicate share. Diversity is
    // Gini-Simpson (1 − Σ p²) rather than entropy: no float log, so
    // the score is a mirrored double sequence over exact integer
    // counts (ln is NOT correctly-rounded across libms — the one
    // transcendental this repo never puts under a hash). Dup share
    // rides the q22 fingerprint through a |distinct-fp| count join.
    // Three hash aggregates total; everything after the first is
    // |sources|- or |fp|-sized.
    Q("q164_dataset_card",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            tokenCount(col("text")).cast("long").as("ntok"),
            fingerprint(col("text")).as("fp"))
        val fc = d.groupBy("fp").agg(count(lit(1)).as("c"))
        val agg = d.join(fc, "fp").groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("total_tokens"),
            count(when(col("c") > 1, 1)).as("n_dup"))
        val sq = d.groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
          .groupBy("source").agg(sum(col("c") * col("c")).as("ssq"))
        val nD = col("n_docs").cast(DoubleType)
        agg.join(sq, "source")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            (col("total_tokens").cast(DoubleType) / nD)
              .as("mean_tokens"),
            (lit(1.0d) - col("ssq").cast(DoubleType) / (nD * nD))
              .as("lang_diversity"),
            (col("n_dup").cast(DoubleType) / nD).as("dup_share"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, lang,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS ntok,
            md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
              AS fp
          FROM documents),
        fc AS (SELECT fp, count(*) AS c FROM d GROUP BY 1),
        agg AS (SELECT source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(ntok) AS BIGINT) AS total_tokens,
            CAST(sum(CASE WHEN fc.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup
          FROM d JOIN fc ON d.fp = fc.fp GROUP BY 1),
        sq AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS ssq
          FROM (SELECT source, lang, count(*) AS c FROM d
            GROUP BY 1, 2) GROUP BY 1)
        SELECT agg.source, n_docs, total_tokens,
          CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
            AS mean_tokens,
          1.0 - CAST(ssq AS DOUBLE)
            / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
            AS lang_diversity,
          CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_share
        FROM agg JOIN sq ON agg.source = sq.source
        ORDER BY agg.source""")),

    // Cross-split contamination matrix — after a q76-style hash split,
    // how many exact-duplicate pairs STRADDLE split boundaries (the
    // train→eval leakage that inflates benchmarks)? Per fingerprint,
    // count members in each split (one hash aggregate with
    // conditional counts — the fact table is never self-joined); the
    // pair count per split-pair is Σ over fingerprints of the two
    // membership counts' product, computed on the |distinct-fp| table.
    Q("q165_split_contamination",
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 8)
        val d = Tables.load(s, dir, "documents")
          .select(fingerprint(col("text")).as("fp"),
            when(h < "0ccccccc", "val")
              .when(h < "19999999", "test")
              .otherwise("train").as("split"))
        val g = d.groupBy("fp")
          .agg(count(when(col("split") === "train", 1)).as("ntr"),
            count(when(col("split") === "test", 1)).as("nte"),
            count(when(col("split") === "val", 1)).as("nva"))
        g.select(explode(array(
            struct(lit("train").as("split_a"), lit("test").as("split_b"),
              (col("ntr") * col("nte")).as("pairs"),
              (col("ntr") > 0 && col("nte") > 0).as("hit")),
            struct(lit("train").as("split_a"), lit("val").as("split_b"),
              (col("ntr") * col("nva")).as("pairs"),
              (col("ntr") > 0 && col("nva") > 0).as("hit")),
            struct(lit("test").as("split_a"), lit("val").as("split_b"),
              (col("nte") * col("nva")).as("pairs"),
              (col("nte") > 0 && col("nva") > 0).as("hit"))))
            .as("x"))
          .groupBy(col("x.split_a").as("split_a"),
            col("x.split_b").as("split_b"))
          .agg(sum(col("x.pairs")).as("n_pairs"),
            count(when(col("x.hit"), 1)).as("n_fingerprints"))
          .orderBy("split_a", "split_b")
      },
      Some("""WITH d AS (SELECT
            md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
              AS fp,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                < '0ccccccc' THEN 'val'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                < '19999999' THEN 'test'
              ELSE 'train' END AS split
          FROM documents),
        g AS (SELECT fp,
            CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
              AS BIGINT) AS ntr,
            CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
              AS BIGINT) AS nte,
            CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
              AS BIGINT) AS nva
          FROM d GROUP BY 1)
        SELECT 'train' AS split_a, 'test' AS split_b,
          CAST(sum(ntr * nte) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN ntr > 0 AND nte > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fingerprints
        FROM g
        UNION ALL
        SELECT 'train', 'val', CAST(sum(ntr * nva) AS BIGINT),
          CAST(sum(CASE WHEN ntr > 0 AND nva > 0 THEN 1 ELSE 0 END)
            AS BIGINT)
        FROM g
        UNION ALL
        SELECT 'test', 'val', CAST(sum(nte * nva) AS BIGINT),
          CAST(sum(CASE WHEN nte > 0 AND nva > 0 THEN 1 ELSE 0 END)
            AS BIGINT)
        FROM g
        ORDER BY split_a, split_b""")),

    // Linear-classifier quality scoring — the fastText/CCNet-style
    // model-inference filter shape: a broadcast weight vector dotted
    // with per-document features, keep iff score clears the decision
    // boundary. Everything stays INTEGER: features are counts (words,
    // stopword hits, digit tokens, characters), weights are
    // milli-units, and the keep test is `logit > 0` — exactly
    // equivalent to p > 0.5 through the monotone sigmoid, so the
    // transcendental never has to be computed, let alone hash-match.
    // One codegen'd scan, no shuffle; at 100 TB model inference is a
    // map over the corpus (real learned weights would arrive as a
    // broadcast literal the same way).
    Q("q178_linear_quality_score",
      (s, dir) => {
        graft.sources.ScanSpread // sortedSpread — see q18
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), qualityLogit.as("logit_milli"))
          .withColumn("keep", col("logit_milli") > 0L)
      },
      Some(s"""SELECT doc_id,
          $qualityLogitSql AS logit_milli,
          $qualityLogitSql > 0 AS keep
        FROM documents ORDER BY doc_id""")),

    // Text normalization — the C4/CCNet cleaning pass as a verifiable
    // transform: lowercase, strip non-alphanumerics, collapse runs of
    // spaces, trim. All three regexes are RE2-safe literal classes so
    // Java regex and DuckDB RE2 agree byte-for-byte; the cleaned text
    // itself is md5-pinned (not just its length), so the exact byte
    // sequence of the normalization is what the oracle checks. One
    // codegen'd scan, no shuffle.
    Q("q194_clean_text",
      (s, dir) => {
        val cleaned = trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
        graft.sources.ScanSpread // sortedSpread — see q18
          .sortedSpread(Tables.load(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"),
            md5(cleaned).as("clean_fp"),
            length(col("text")).cast("long").as("len_before"),
            length(cleaned).cast("long").as("len_after"),
            size(split(cleaned, " ")).cast("long").as("n_words_after"))
      },
      Some("""WITH c AS (SELECT doc_id, text,
            trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS cleaned
          FROM documents)
        SELECT doc_id, md5(cleaned) AS clean_fp,
          CAST(length(text) AS BIGINT) AS len_before,
          CAST(length(cleaned) AS BIGINT) AS len_after,
          CAST(len(string_split(cleaned, ' ')) AS BIGINT)
            AS n_words_after
        FROM c ORDER BY doc_id""")),

    // The round-7 corpus pipeline COMPOSITE — byte-exact normalization
    // (q194) → model-scored quality gate on the RAW text (q178) →
    // best-copy dedup on the NORMALIZED fingerprint keeping the
    // highest-raw-quality variant (q190) → per-source survivor/token
    // accounting. Each stage is individually oracle-checked; this
    // hash-checks their COMPOSITION (the q69 pattern for the newer
    // layer). Scoring on raw text while deduping on cleaned text is
    // the point: punctuation/case variants of one document collapse
    // into one cluster and the best-formatted variant survives. Every
    // stage is one scan, one hash aggregate, or one keyed join.
    Q("q200_corpus_pipeline_v2",
      (s, dir) => {
        val cleaned = trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            cleaned.as("ctext"),
            qualityLogit.as("logit"))
          .filter(col("logit") > 0L)
          .withColumn("fp", md5(col("ctext")))
        val kept = Dedup
          .bestCopyPerGroup(scored, "fp", "logit", "doc_id")
          .filter(col("doc_id") === col("keeper_id"))
        kept.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("ctext"), " ")).cast("long"))
              .as("n_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH c AS (SELECT doc_id, source, text,
            trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS ctext
          FROM documents),
        sc AS (SELECT doc_id, source, ctext,
            $qualityLogitSql AS logit
          FROM c WHERE $qualityLogitSql > 0),
        k AS (SELECT *, first_value(doc_id) OVER
            (PARTITION BY md5(ctext) ORDER BY logit DESC, doc_id)
            AS keeper
          FROM sc)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(ctext, ' '))) AS BIGINT) AS n_tokens
        FROM k WHERE doc_id = keeper
        GROUP BY 1 ORDER BY 1""")),

    // Best-copy dedup — the cluster-canonicalization POLICY step: per
    // near-exact cluster (q22's normalized fingerprint), keep the
    // HIGHEST-quality copy (q178's logit), lowest id on ties — not
    // blindly the first-seen copy. Dedup.bestCopyPerGroup is one
    // map-side-combinable struct-MIN aggregate + a keyed join back;
    // no window buffers a duplicate cluster on one reducer.
    Q("q190_best_copy_dedup",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .withColumn("fp", fingerprint(col("text")))
          .withColumn("logit_milli", qualityLogit)
          .select("doc_id", "fp", "logit_milli")
        Dedup.bestCopyPerGroup(scored, "fp", "logit_milli", "doc_id")
          .withColumn("is_kept", col("doc_id") === col("keeper_id"))
          .select("doc_id", "fp", "logit_milli", "keeper_id", "is_kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH f AS (SELECT doc_id,
            md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
              AS fp,
            $qualityLogitSql AS logit_milli
          FROM documents)
        SELECT doc_id, fp, logit_milli,
          first_value(doc_id) OVER w AS keeper_id,
          doc_id = first_value(doc_id) OVER w AS is_kept
        FROM f
        WINDOW w AS (PARTITION BY fp ORDER BY logit_milli DESC, doc_id)
        ORDER BY doc_id""")),

    // Vocabulary coverage@k — the tokenizer-design metric: what share
    // of all token OCCURRENCES do the k most frequent words cover?
    // (k pinned inside the fixture's 31-word vocabulary.) The fact table reduces to the |vocab| frequency table in one
    // map-side-combinable aggregate; the rank window and running sum
    // then operate on |vocab| rows only (the q48/q118 bounded-scan
    // convention), and the output is three rows. Share is one double
    // division of exact BIGINTs per row.
    Q("q188_vocab_coverage",
      (s, dir) => {
        val words = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
        val freq = words.groupBy("w").agg(count(lit(1)).as("cnt"))
        val byFreq = Window.orderBy(col("cnt").desc, col("w"))
        val ranked = freq
          .withColumn("rk", row_number().over(byFreq).cast("long"))
          .filter(col("rk") <= 20)
          .withColumn("cum", sum(col("cnt")).over(
            byFreq.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        val total = words.agg(count(lit(1)).as("total"))
        ranked.filter(col("rk").isin(5L, 10L, 20L))
          .crossJoin(broadcast(total)) // 1-row total, q137's shape
          .select(col("rk").as("k"), col("cum").as("covered"),
            col("total"),
            (col("cum").cast(DoubleType) / col("total").cast(DoubleType))
              .as("coverage"))
          .orderBy("k")
      },
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
          FROM documents),
        freq AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
        ranked AS (SELECT cnt,
            row_number() OVER (ORDER BY cnt DESC, w) AS rk
          FROM freq),
        cum AS (SELECT rk, sum(cnt) OVER (ORDER BY rk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM ranked WHERE rk <= 20),
        total AS (SELECT count(*) AS total FROM w)
        SELECT CAST(rk AS BIGINT) AS k, CAST(cum AS BIGINT) AS covered,
          CAST(total AS BIGINT) AS total,
          CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        FROM cum, total WHERE rk IN (5, 10, 20) ORDER BY rk""")),

    // Deterministic fixed-SIZE corpus sample — the complement of
    // q115's per-stratum caps: exactly n documents, chosen by
    // smallest md5 of the id, reproducible across runs, engines and
    // partitionings. Spark plans ORDER BY hash LIMIT n as
    // TakeOrderedAndProject — each partition keeps its local top-n
    // and only n·|partitions| rows reach the driver-side merge, never
    // a global sort of the corpus.
    Q("q189_fixed_sample",
      (s, dir) => {
        val n = 100
        val h = md5(col("doc_id").cast("string"))
        val sampled = Tables.load(s, dir, "documents")
          .select(col("doc_id"), h.as("h"))
          .orderBy("h").limit(n)
        sampled
          .withColumn("rk",
            row_number().over(Window.orderBy("h")).cast("long"))
          .select("rk", "doc_id")
          .orderBy("rk")
      },
      Some("""SELECT CAST(row_number() OVER
            (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk,
          doc_id
        FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100""")),

    // A-priori frequent word pairs over document baskets (40% relative
    // support): the association-mining verb, with the infrequent-item
    // prune engaged for real — the fixture's one rare word sits below
    // threshold and must vanish BEFORE pairing. Thresholds compare as
    // integer cross-multiplication, lift is one double division of
    // exact products; the oracle replays prune, pair counts and lift.
    Q("q237_frequent_pairs",
      (s, dir) => {
        val baskets = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        graft.operators.Itemsets
          .frequentPairs(baskets, "doc_id", "word", minSupportPct = 40)
          .orderBy("item_a", "item_b")
      },
      Some("""WITH d AS (SELECT DISTINCT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) WHERE word <> ''),
        n1 AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM d),
        freq AS (SELECT item, sup FROM (
            SELECT word AS item, CAST(count(*) AS BIGINT) AS sup
            FROM d GROUP BY 1), n1
          WHERE sup * 100 >= n * 40),
        fd AS (SELECT d.doc_id, d.word AS item, f.sup
          FROM d JOIN freq f ON f.item = d.word),
        pairs AS (SELECT a.item AS item_a, b.item AS item_b,
            CAST(count(*) AS BIGINT) AS pair_sup,
            max(a.sup) AS sup_a, max(b.sup) AS sup_b
          FROM fd a JOIN fd b
            ON a.doc_id = b.doc_id AND a.item < b.item
          GROUP BY 1, 2)
        SELECT item_a, item_b, pair_sup, sup_a, sup_b,
          CAST(pair_sup * n AS DOUBLE) / CAST(sup_a * sup_b AS DOUBLE)
            AS lift
        FROM pairs, n1
        WHERE pair_sup * 100 >= n * 40
        ORDER BY item_a, item_b""")),

    // Association rules from the frequent pairs: both directions per
    // pair, confidence = sup(ab)/sup(antecedent), cut at 85% by
    // integer cross-multiplication (a real cut — most of the fixture's
    // rules sit in the 74–96% band). One more projection over q237's
    // machinery; nothing new touches the fact table.
    Q("q248_association_rules",
      (s, dir) => {
        val baskets = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        graft.operators.Itemsets
          .rules(baskets, "doc_id", "word", minSupportPct = 40,
            minConfidencePct = 85)
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH d AS (SELECT DISTINCT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents) WHERE word <> ''),
        n1 AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM d),
        freq AS (SELECT item, sup FROM (
            SELECT word AS item, CAST(count(*) AS BIGINT) AS sup
            FROM d GROUP BY 1), n1
          WHERE sup * 100 >= n * 40),
        fd AS (SELECT d.doc_id, d.word AS item, f.sup
          FROM d JOIN freq f ON f.item = d.word),
        pairs AS (SELECT a.item AS item_a, b.item AS item_b,
            CAST(count(*) AS BIGINT) AS pair_sup,
            max(a.sup) AS sup_a, max(b.sup) AS sup_b
          FROM fd a JOIN fd b
            ON a.doc_id = b.doc_id AND a.item < b.item
          GROUP BY 1, 2),
        fp AS (SELECT item_a, item_b, pair_sup, sup_a, sup_b,
            CAST(pair_sup * n AS DOUBLE)
              / CAST(sup_a * sup_b AS DOUBLE) AS lift
          FROM pairs, n1
          WHERE pair_sup * 100 >= n * 40),
        r AS (SELECT item_a AS antecedent, item_b AS consequent,
            pair_sup, sup_a AS sup_ant, lift FROM fp
          UNION ALL
          SELECT item_b, item_a, pair_sup, sup_b, lift FROM fp)
        SELECT antecedent, consequent, pair_sup, sup_ant,
          CAST(pair_sup AS DOUBLE) / CAST(sup_ant AS DOUBLE)
            AS confidence,
          lift
        FROM r
        WHERE pair_sup * 100 >= sup_ant * 85
        ORDER BY antecedent, consequent""")),

    // Cross-source duplicate flow — WHO copies from WHOM: every
    // near-dup pair (exact Jaccard ≥ 0.3, q70's edge set) that spans
    // two sources lands in an ordered (src_a, src_b) cell with the
    // pair count and the mean similarity. The curation diagnostic
    // behind per-source dedup budgets: a hot cell means one feed
    // mirrors the other. Pair generation is the inverted-index
    // equi-join (Σ shingle postings², never corpus²); the matrix is
    // one |sources|²-bounded aggregate on top.
    Q("q252_dup_flow_matrix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, 3, minJaccard = 0.3, maxDocFreq = 1 << 20)
        pairs
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("sa")), Seq("doc_a"))
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("sb")), Seq("doc_b"))
          .filter(col("sa") =!= col("sb"))
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"),
            col("jaccard"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("dup_pairs"),
            (sum(col("jaccard").cast("decimal(38,12)"))
              .cast("double") / count(lit(1)).cast("double"))
              .as("mean_jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH words AS (SELECT doc_id,
            string_split(text, ' ') AS ws FROM documents),
        sh AS (SELECT DISTINCT doc_id,
            ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pr AS (SELECT doc_a, doc_b,
            CAST(inter AS DOUBLE)
              / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes na ON doc_a = na.doc_id
          JOIN sizes nb ON doc_b = nb.doc_id
          WHERE CAST(inter AS DOUBLE)
            / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.3),
        fl AS (SELECT
            least(da.source, db.source) AS src_a,
            greatest(da.source, db.source) AS src_b,
            p.jaccard
          FROM pr p
          JOIN documents da ON da.doc_id = p.doc_a
          JOIN documents db ON db.doc_id = p.doc_b
          WHERE da.source <> db.source)
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS dup_pairs,
          CAST(sum(CAST(jaccard AS DECIMAL(38,12))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS mean_jaccard
        FROM fl GROUP BY 1, 2 ORDER BY src_a, src_b""")),

    // Mojibake (UTF-8-read-as-cp1252) detection + repair. The corpus
    // is ASCII word-salad, so the eval arm first plants real non-ASCII
    // punctuation/diacritics deterministically (docs ≡ 0,1 mod 3; docs
    // ≡ 2 stay pure ASCII and MUST count zero), then corrupts them with
    // the exact cp1252 digraph mapping a double-encoding produces, then
    // detects and repairs. The full round trip — inject → corrupt →
    // count → repair-equals-clean — is hash-checked per document, so a
    // wrong digraph, a bad replace order, or an over-eager repair flips
    // repaired_ok. Everything is codegen'd string algebra (replace +
    // length differences): one scan, no shuffle, no UDF, no encoding
    // library — the shape that survives 100 TB.
    Q("q298_mojibake_repair",
      (s, dir) => mojibakeRepair(graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(MojibakeOracle)),

    // Unicode script histogram + mixed-script flag — the companion
    // signal to q20's marker-word language ID: script ranges are the
    // robust first-pass router (Cyrillic/Greek/Han/Arabic vs Latin)
    // and a MIXED-script doc is a spoofing/boilerplate/quality signal.
    // The eval arm plants one non-Latin word per residue class (docs ≡
    // 0 mod 5 stay pure Latin), then counts characters per script
    // range with length-difference algebra over regexp_replace — all
    // codegen'd, one scan, no shuffle. Dominant script resolves by
    // (count, fixed script order); the oracle mirrors the ranges with
    // RE2 \x{...} classes.
    Q("q299_script_mix",
      (s, dir) => scriptMix(graft.sources.ScanSpread
          .spread(Tables.load(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(ScriptMixOracle)),

    // Unicode NFC normalization census — the corpus-hygiene pass run
    // before byte-identical dedup or BPE vocabulary training: the same
    // visible text arrives both precomposed ("é" U+00E9) and
    // decomposed ("e"+U+0301 combining acute), and an unnormalized
    // pipeline treats them as distinct strings. The eval arm plants a
    // decomposed suffix on docs ≡ 0 mod 3 and the precomposed
    // equivalent elsewhere; the census counts, per source, how many
    // docs change under NFC and how many chars composition saves.
    // Kernel: the native [[graft.expressions.NfcNormalize]] expression
    // (whole-stage codegen, isNormalized fast path — never a UDF);
    // the oracle is DuckDB's utf8proc-backed nfc_normalize, so the
    // row pins JDK-vs-utf8proc agreement on UAX #15. One scan, one
    // |sources|-row hash aggregate.
    Q("q321_nfc_census",
      (s, dir) => {
        import graft.expressions.NfcNormalize.nfcNormalize
        val dirty = Tables.load(s, dir, "documents")
          .withColumn("t", concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" Cafe\u0301"))
              .otherwise(lit(" Caf\u00e9"))))
        dirty
          .withColumn("norm", nfcNormalize(col("t")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("norm") =!= col("t"), 1L).otherwise(0L))
              .as("n_denorm"),
            sum((length(col("t")) - length(col("norm"))).cast("long"))
              .as("chars_saved"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source,
            text || CASE WHEN doc_id % 3 = 0
              THEN ' Cafe' || chr(769) ELSE ' Caf' || chr(233) END AS t
          FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END)
            AS BIGINT) AS n_denorm,
          CAST(sum(length(t) - length(nfc_normalize(t))) AS BIGINT)
            AS chars_saved
        FROM d GROUP BY 1 ORDER BY 1""")),

    // Format census — the routing pass of a Stack-style mixed corpus:
    // classify each document's dominant serialization (html / code /
    // markdown / prose) from cheap line-shape signals, then census
    // the mix per source. The eval arm wraps docs in a deterministic
    // format by residue class ((doc_id div 4) mod 4 — decorrelated
    // from the round-robin source assignment) so every source carries
    // a MIX and the classifier's priority order is exercised; signals
    // are regexp_count projections (codegen'd, one scan, one
    // |sources×formats|-row aggregate — at 100 TB this is a single
    // pass over the corpus). The oracle mirrors the regex algebra
    // with DuckDB's regexp_extract_all. The per-doc classifier is
    // factored ([[formatPerDoc]]) so the streaming twin q323 runs the
    // IDENTICAL function at the ingest edge.
    Q("q322_format_census",
      (s, dir) => {
        formatPerDoc(Tables.load(s, dir, "documents"))
          .groupBy("source", "fmt")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_html").cast("long")).as("html_tags"),
            sum(col("n_code").cast("long")).as("code_marks"))
          .orderBy("source", "fmt")
      },
      Some(FormatClsCte + """
        SELECT source, fmt, count(*) AS n_docs,
          CAST(sum(n_html) AS BIGINT) AS html_tags,
          CAST(sum(n_code) AS BIGINT) AS code_marks
        FROM cls GROUP BY 1, 2 ORDER BY 1, 2"""))
  )

  /** The q322 per-document format classifier, factored (the
    * mojibakeRepair precedent) so the streaming twin q323 runs the
    * IDENTICAL stateless projection. */
  private[queries] def formatPerDoc(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wrapped = docs
      .withColumn("t",
        when(pmod(floor(col("doc_id") / 4), lit(4)) === 0,
          concat(lit("# Title\n- first\n- second\n"), col("text")))
        .when(pmod(floor(col("doc_id") / 4), lit(4)) === 1,
          concat(lit("def f(x):\n  return {x};\n"), col("text")))
        .when(pmod(floor(col("doc_id") / 4), lit(4)) === 2,
          concat(lit("<html><p>"), col("text"), lit("</p></html>")))
        .otherwise(col("text")))
    wrapped
      .withColumn("n_html",
        regexp_count(col("t"), lit("<[a-zA-Z/][^>]*>")))
      .withColumn("n_md",
        regexp_count(col("t"), lit("(^|\n)[#\\-\\*] ")))
      .withColumn("n_code",
        regexp_count(col("t"), lit("[{};]|def |return ")))
      .withColumn("fmt",
        when(col("n_html") > 0 &&
          col("n_html") >= greatest(col("n_md"), col("n_code")), "html")
        .when(col("n_code") > 0 && col("n_code") >= col("n_md"), "code")
        .when(col("n_md") > 0, "markdown")
        .otherwise("prose"))
      .select("doc_id", "source", "n_html", "n_md", "n_code", "fmt")
  }

  /** Shared by q322 and its streaming twin q323: the wrap + signal +
    * classify CTE chain, ending in `cls(doc_id, source, n_html,
    * n_md, n_code, fmt)`. */
  private[queries] def FormatClsCte: String =
    """WITH w AS (SELECT doc_id, source,
          CASE WHEN (doc_id // 4) % 4 = 0
              THEN '# Title' || chr(10) || '- first' || chr(10) ||
                '- second' || chr(10) || text
            WHEN (doc_id // 4) % 4 = 1
              THEN 'def f(x):' || chr(10) || '  return {x};' ||
                chr(10) || text
            WHEN (doc_id // 4) % 4 = 2
              THEN '<html><p>' || text || '</p></html>'
            ELSE text END AS t
        FROM documents),
      sig AS (SELECT doc_id, source,
          len(regexp_extract_all(t, '<[a-zA-Z/][^>]*>')) AS n_html,
          len(regexp_extract_all(t, '(^|\n)[#\-\*] ')) AS n_md,
          len(regexp_extract_all(t, '[{};]|def |return ')) AS n_code
        FROM w),
      cls AS (SELECT doc_id, source, n_html, n_md, n_code,
          CASE WHEN n_html > 0 AND n_html >= greatest(n_md, n_code)
              THEN 'html'
            WHEN n_code > 0 AND n_code >= n_md THEN 'code'
            WHEN n_md > 0 THEN 'markdown'
            ELSE 'prose' END AS fmt
        FROM sig)"""

  /** The q298 per-document computation, factored (like scriptMix) so
    * the streaming twin q309 runs the IDENTICAL function — a pure
    * stateless projection, Append-mode with zero state. */
  private[queries] def mojibakeRepair(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.MojibakeFuncs
    val injected = when(col("doc_id") % 3 === 0,
        call_function("replace", col("text"), lit("table"),
          lit("tablé — ’fancy’")))
      .when(col("doc_id") % 3 === 1,
        call_function("replace", col("text"), lit("value"),
          lit("“valüé”")))
      .otherwise(col("text"))
    docs
      .withColumn("clean", injected)
      .withColumn("corrupted", MojibakeFuncs.corrupt(col("clean")))
      .select(col("doc_id"),
        MojibakeFuncs.count(col("corrupted")).as("n_mojibake"),
        (length(col("corrupted")) - length(col("clean")))
          .cast("long").as("bloat_chars"),
        (MojibakeFuncs.repair(col("corrupted")) === col("clean"))
          .as("repaired_ok"),
        (MojibakeFuncs.count(col("clean")) === 0L)
          .as("clean_is_clean"))
  }

  /** Shared by q298 and its streaming twin q309 (a def — see
    * ScriptMixOracle). */
  private[queries] def MojibakeOracle: String = {
    import graft.functions.MojibakeFuncs._
    s"""WITH inj AS (SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
             THEN replace(text, 'table', 'tablé — ’fancy’')
             WHEN doc_id % 3 = 1
             THEN replace(text, 'value', '“valüé”')
             ELSE text END AS clean
      FROM documents),
    cor AS (SELECT doc_id, clean,
        ${corruptSql("clean")} AS corrupted FROM inj)
    SELECT doc_id,
      CAST(${countSql("corrupted")} AS BIGINT) AS n_mojibake,
      CAST(length(corrupted) - length(clean) AS BIGINT)
        AS bloat_chars,
      ${repairSql("corrupted")} = clean AS repaired_ok,
      ${countSql("clean")} = 0 AS clean_is_clean
    FROM cor ORDER BY doc_id"""
  }

  /** The q299 per-document computation, factored so the streaming twin
    * (q302) runs the IDENTICAL function on a streaming frame — it is a
    * pure stateless projection, so the twin is Append-mode with zero
    * state. */
  private[queries] def scriptMix(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val injected = when(col("doc_id") % 5 === 1,
        call_function("replace", col("text"), lit("data"),
          lit("данные")))
      .when(col("doc_id") % 5 === 2,
        call_function("replace", col("text"), lit("query"),
          lit("ερώτημα")))
      .when(col("doc_id") % 5 === 3,
        call_function("replace", col("text"), lit("table"),
          lit("表格")))
      .when(col("doc_id") % 5 === 4,
        call_function("replace", col("text"), lit("row"),
          lit("صف")))
      .otherwise(col("text"))
    def cnt(c: org.apache.spark.sql.Column, cls: String) =
      (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
    docs
      .withColumn("t", injected)
      .select(col("doc_id"),
        cnt(col("t"), "[A-Za-z]").as("n_latin"),
        cnt(col("t"), "[Ѐ-ӿ]").as("n_cyrillic"),
        cnt(col("t"), "[Ͱ-Ͽ]").as("n_greek"),
        cnt(col("t"), "[一-鿿]").as("n_han"),
        cnt(col("t"), "[؀-ۿ]").as("n_arabic"))
      .withColumn("dominant",
        when(col("n_latin") >= greatest(col("n_cyrillic"),
            col("n_greek"), col("n_han"), col("n_arabic")), "latin")
          .when(col("n_cyrillic") >= greatest(col("n_greek"),
            col("n_han"), col("n_arabic")), "cyrillic")
          .when(col("n_greek") >= greatest(col("n_han"),
            col("n_arabic")), "greek")
          .when(col("n_han") >= col("n_arabic"), "han")
          .otherwise("arabic"))
      .withColumn("mixed",
        (when(col("n_latin") > 0, 1).otherwise(0) +
          when(col("n_cyrillic") > 0, 1).otherwise(0) +
          when(col("n_greek") > 0, 1).otherwise(0) +
          when(col("n_han") > 0, 1).otherwise(0) +
          when(col("n_arabic") > 0, 1).otherwise(0)) >= 2)
  }

  /** Shared by q299 and its streaming twin q302 so the oracle cannot
    * drift from the batch construction. A def, not a val: object vals
    * declared after `qs` are still null when qs captures them. */
  private[queries] def ScriptMixOracle: String =
    """WITH inj AS (SELECT doc_id,
            CASE WHEN doc_id % 5 = 1 THEN replace(text, 'data', 'данные')
                 WHEN doc_id % 5 = 2 THEN replace(text, 'query', 'ερώτημα')
                 WHEN doc_id % 5 = 3 THEN replace(text, 'table', '表格')
                 WHEN doc_id % 5 = 4 THEN replace(text, 'row', 'صف')
                 ELSE text END AS t
          FROM documents),
        c AS (SELECT doc_id,
            CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS n_latin,
            CAST(length(t) - length(regexp_replace(t,
              '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
            CAST(length(t) - length(regexp_replace(t,
              '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
            CAST(length(t) - length(regexp_replace(t,
              '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_han,
            CAST(length(t) - length(regexp_replace(t,
              '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic
          FROM inj)
        SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
          CASE WHEN n_latin >= greatest(n_cyrillic, n_greek, n_han,
              n_arabic) THEN 'latin'
            WHEN n_cyrillic >= greatest(n_greek, n_han, n_arabic)
              THEN 'cyrillic'
            WHEN n_greek >= greatest(n_han, n_arabic) THEN 'greek'
            WHEN n_han >= n_arabic THEN 'han'
            ELSE 'arabic' END AS dominant,
          ((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
            CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END +
            CASE WHEN n_greek > 0 THEN 1 ELSE 0 END +
            CASE WHEN n_han > 0 THEN 1 ELSE 0 END +
            CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END) >= 2) AS mixed
        FROM c ORDER BY doc_id"""
}
