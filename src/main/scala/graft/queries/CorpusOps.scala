package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType}

import graft.Tables
import graft.functions.ExactAgg
import graft.functions.TextFuncs
import graft.operators.TextRank

/** Corpus-pipeline operators, part 2: block-level dedup, TextRank
  * keyword scoring, exact correlation matrices, CUBE aggregation,
  * sliding event-time windows, and token-budget mixture selection.
  * Every query is oracle-checked (the fixed-point PageRank runs in
  * 64-bit integers precisely so that it CAN be).
  */
object CorpusOps {

  private val BlockWords = 5    // words per dedup block (q89)
  private val TokenBudget = 800 // per-source token budget (q95)

  /** The snake-shard composite sort key (tokens DESC, doc_id ASC)
    * packed into one long: (2^20 − n_tokens)·2^40 + doc_id. The
    * packing silently corrupts the GLOBAL ordering if n_tokens ≥ 2^20
    * or doc_id ≥ 2^40, so the headroom is enforced per row with
    * `assert_true` folded INTO the key (null → 0 on success; a raise
    * on overflow) — a standalone check column would be pruned by the
    * optimizer, this one can't be. One comparison per row, stays in
    * whole-stage codegen. */
  private def snakeShardKey(nTokens: Column, docId: Column): Column = {
    val guard = assert_true(
      nTokens >= 0L && nTokens < 1048576L &&
        docId >= 0L && docId < 1099511627776L,
      concat(lit("snake-shard key overflow: need 0 <= n_tokens < 2^20 "),
        lit("and 0 <= doc_id < 2^40, got n_tokens="), nTokens,
        lit(" doc_id="), docId))
    (lit(1048576L) - nTokens) * lit(1099511627776L) + docId +
      coalesce(guard.cast("long"), lit(0L))
  }

  /** Pearson correlation from exact partial sums: every Σ is either a
    * fixed-scale DECIMAL (value-derived terms — associative, engine
    * exact) or a BIGINT (integer terms), cast to DOUBLE only once at
    * the end; the closed-form combination is then plain IEEE double
    * arithmetic, bit-identical across engines when written with the
    * same association — which the oracle mirrors token-for-token. */
  private def corrFromSums(n: Column, sx: Column, sy: Column,
      sxy: Column, sxx: Column, syy: Column): Column =
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))

  /** DuckDB text of [[corrFromSums]] — kept adjacent so the two can't
    * drift (double arithmetic must match op-for-op, not just in math). */
  private def corrSql(n: String, sx: String, sy: String,
      sxy: String, sxx: String, syy: String): String =
    s"($n * $sxy - $sx * $sy) / " +
      s"(sqrt($n * $sxx - $sx * $sx) * sqrt($n * $syy - $sy * $sy))"

  /** The three fixed-point PageRank iteration CTE pairs of q90's
    * oracle (contribution aggregate + damped update), mirroring
    * [[TextRank.pageRank]] exactly: integer ops only, so each
    * iteration is bit-exact. */
  private def pageRankIterCtes(iterations: Int): String =
    (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
          CAST(sum((p.pr * e.c) // o.out_total) AS BIGINT) AS s
        FROM e JOIN pr${i - 1} p ON e.src = p.node
        JOIN o ON e.src = o.src GROUP BY 1),
      pr$i AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS pr
        FROM nodes n LEFT JOIN c$i ON n.node = c$i.node)"""
    }.mkString(",\n")

  val qs: Seq[Q] = Seq(

    // Block-level dedup (the line-level C4 pass, over fixed 5-word
    // blocks since the corpus carries no line structure): every block
    // is kept only at its FIRST global occurrence (lowest doc_id, then
    // position), and documents are reassembled from their surviving
    // blocks. The keep-first rule is a struct-MIN AGGREGATE on the
    // block text — map-side combinable, so a boilerplate block
    // repeated millions of times reduces to one row per input
    // partition before the shuffle (a row_number window would instead
    // SORT every occurrence on one reducer — the hot-block skew
    // killer); the winner row IS the kept row, so there is no join
    // back. One skew-proof shuffle for the dedup, one on doc_id for
    // reassembly; no pairwise step anywhere. Docs whose every block
    // occurred earlier elsewhere disappear (fully-duplicate
    // documents), same as the oracle.
    Q("q89_block_dedup",
      (s, dir) => {
        val bw = BlockWords
        val blkArr = expr(
          s"""transform(sequence(0, (size(split(text, ' ')) + ${bw - 1})
                DIV $bw - 1),
              i -> array_join(slice(split(text, ' '), i * $bw + 1, $bw),
                ' '))""")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), posexplode(blkArr).as(Seq("pos", "blk")))
          .groupBy("blk")
          .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
          .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"),
            col("blk"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), col("blk")))),
                x => x.getField("blk")), " ").as("text_dedup"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
          blocks AS (SELECT doc_id, i AS pos,
              array_to_string(list_slice(ws,
                i * $BlockWords + 1, i * $BlockWords + $BlockWords),
                ' ') AS blk
            FROM w, UNNEST(range(0,
              (len(ws) + ${BlockWords - 1}) // $BlockWords)) AS t(i)),
          kept AS (SELECT doc_id, pos, blk, row_number() OVER (
              PARTITION BY blk ORDER BY doc_id, pos) AS rk FROM blocks)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          string_agg(blk, ' ' ORDER BY pos) AS text_dedup
        FROM kept WHERE rk = 1 GROUP BY doc_id ORDER BY doc_id""")),

    // TextRank: PageRank over the word-adjacency graph (edge w1→w2 per
    // consecutive token occurrence, weighted by count) — the classic
    // graph-based keyword/salience scorer. Three fixed-point integer
    // iterations (rank mass in millionths, damping 0.85); each
    // iteration is one join-shuffle + one hash aggregation, the shape
    // that survives a 100 TB corpus (the rank vector never leaves the
    // cluster, edges are cached once with their out-degree).
    Q("q90_textrank",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val wspec = Window.partitionBy("doc_id").orderBy("pos")
        val edges = toks
          .withColumn("dst", lead(col("w"), 1).over(wspec))
          .filter(col("dst").isNotNull)
          .groupBy(col("w").as("src"), col("dst"))
          .agg(count(lit(1)).as("c"))
        val nodes = toks.select(col("w").as("node")).distinct()
        TextRank.pageRank(edges, nodes, iterations = 3)
          .orderBy(col("pr").desc, col("node"))
          .limit(100)
      },
      Some(s"""WITH toks AS (SELECT doc_id,
            generate_subscripts(l, 1) AS pos, unnest(l) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS l
            FROM documents)),
        edges0 AS (SELECT w AS src,
            lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
          FROM toks),
        e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
          FROM edges0 WHERE dst IS NOT NULL GROUP BY 1, 2),
        o AS (SELECT src, CAST(sum(c) AS BIGINT) AS out_total
          FROM e GROUP BY 1),
        nodes AS (SELECT DISTINCT w AS node FROM toks),
        pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        ${pageRankIterCtes(3)}
        SELECT node, pr FROM pr3
        ORDER BY pr DESC, node LIMIT 100""")),

    // Correlation matrix from one pass of exact partial sums: Pearson
    // corr of (value, hour-of-day) and (value, minute) per event type.
    // Single hash aggregation producing all nine Σ terms — the
    // one-scan moment-matrix pattern that computes an arbitrary k×k
    // correlation matrix at 100 TB with exactly one shuffle (vs one
    // pass per pair for naive corr() calls).
    Q("q91_corr_matrix",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("value"),
            hour(col("ts")).cast("long").as("h"),
            minute(col("ts")).cast("long").as("m"))
        val agg = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(28, 2)))
            .cast("double").as("sv"),
          sum(col("h")).as("sh"),
          sum(col("m")).as("sm"),
          sum((col("value") * col("value")).cast(DecimalType(28, 4)))
            .cast("double").as("svv"),
          sum(col("h") * col("h")).as("shh"),
          sum(col("m") * col("m")).as("smm"),
          sum((col("value") * col("h").cast(DoubleType))
            .cast(DecimalType(28, 4))).cast("double").as("svh"),
          sum((col("value") * col("m").cast(DoubleType))
            .cast(DecimalType(28, 4))).cast("double").as("svm"))
        val n = col("n").cast(DoubleType)
        agg.select(col("event_type"), col("n"),
            corrFromSums(n, col("sv"), col("sh").cast(DoubleType),
              col("svh"), col("svv"), col("shh").cast(DoubleType))
              .as("corr_value_hour"),
            corrFromSums(n, col("sv"), col("sm").cast(DoubleType),
              col("svm"), col("svv"), col("smm").cast(DoubleType))
              .as("corr_value_minute"))
          .orderBy("event_type")
      },
      Some(s"""WITH t AS (SELECT event_type, value,
            CAST(hour(ts) AS BIGINT) AS h,
            CAST(minute(ts) AS BIGINT) AS m
          FROM events),
        agg AS (SELECT event_type,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sv,
            CAST(sum(h) AS BIGINT) AS sh,
            CAST(sum(m) AS BIGINT) AS sm,
            CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE)
              AS svv,
            CAST(sum(h * h) AS BIGINT) AS shh,
            CAST(sum(m * m) AS BIGINT) AS smm,
            CAST(sum(CAST(value * CAST(h AS DOUBLE) AS DECIMAL(28,4)))
              AS DOUBLE) AS svh,
            CAST(sum(CAST(value * CAST(m AS DOUBLE) AS DECIMAL(28,4)))
              AS DOUBLE) AS svm
          FROM t GROUP BY 1)
        SELECT event_type, n,
          ${corrSql("CAST(n AS DOUBLE)", "sv", "CAST(sh AS DOUBLE)",
            "svh", "svv", "CAST(shh AS DOUBLE)")} AS corr_value_hour,
          ${corrSql("CAST(n AS DOUBLE)", "sv", "CAST(sm AS DOUBLE)",
            "svm", "svv", "CAST(smm AS DOUBLE)")} AS corr_value_minute
        FROM agg ORDER BY event_type""")),

    // CUBE with grouping id: per-(status, priority) totals plus BOTH
    // one-dimensional margins plus the grand total in one pass — like
    // q84's ROLLUP, Spark expands the grouping sets before a single
    // hash aggregation (one shuffle at any scale, vs four scans).
    Q("q92_cube_agg",
      (s, dir) => {
        Tables.load(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            ExactAgg.dsum(col("o_totalprice")).as("sum_price"))
          .select("gid", "o_orderstatus", "o_orderpriority", "n",
            "sum_price")
          .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some(s"""SELECT
          CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          o_orderstatus, o_orderpriority, count(*) AS n,
          ${ExactAgg.sqlSum("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus ASC NULLS FIRST,
          o_orderpriority ASC NULLS FIRST""")),

    // Sliding event-time windows (6 h windows every 3 h): each event
    // lands in exactly two overlapping windows. Spark expands the
    // window memberships map-side and hash-aggregates — one shuffle,
    // same as a tumbling bucket, just 2× the rows; the oracle expands
    // the same two epoch-aligned starts per event explicitly.
    Q("q93_sliding_window",
      (s, dir) => {
        Tables.load(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours", "3 hours"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            ExactAgg.dsum(col("value")).as("total"))
          .select(col("window.start").as("win_start"), col("event_type"),
            col("n"), col("total"))
          .orderBy("win_start", "event_type")
      },
      Some(s"""WITH e AS (SELECT event_type, value,
            (CAST(floor(epoch(ts)) AS BIGINT) // 10800) * 10800 AS b
          FROM events),
        x AS (SELECT make_timestamp((b - k * 10800) * 1000000)
              AS win_start, event_type, value
          FROM e, UNNEST([0, 1]) AS t(k))
        SELECT win_start, event_type, count(*) AS n,
          ${ExactAgg.sqlSum("value")} AS total
        FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Token-budget mixture selection: within each source, take
    // documents greedily (longest first — the usual quality proxy when
    // scores tie) until the source's token budget is exhausted; every
    // doc reports its running total and whether it made the cut. The
    // cumulative sum is windowed WITHIN the source partition — scales
    // as one hash shuffle, never a global sort.
    Q("q95_token_budget",
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            TextFuncs.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("kept", col("cum_tokens") <= TokenBudget)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, source, n_chars, n_tokens, cum_tokens,
          cum_tokens <= $TokenBudget AS kept
        FROM (SELECT doc_id, source, n_chars, n_tokens,
            CAST(sum(n_tokens) OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
          FROM (SELECT doc_id, source, n_chars,
              CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                AS BIGINT) AS n_tokens
            FROM documents))
        ORDER BY doc_id""")),

    // The round-6 composite: block-level dedup → benchmark
    // decontamination → length gate → per-source quota → sequence
    // packing, chained as ONE oracle-checked query over stages that
    // are each individually verified (q89/q71/q86/q80). Shape at
    // 100 TB: two shuffles for the dedup, one shingle shuffle for the
    // decontamination (the benchmark side broadcasts), one per-source
    // window, and the two-phase distributed prefix sum for packing —
    // no global sorts over fact data anywhere.
    Q("q110_training_mix_pipeline",
      (s, dir) => {
        val bw = BlockWords
        val docs = Tables.load(s, dir, "documents")
        val blkArr = expr(
          s"""transform(sequence(0, (size(split(text, ' ')) + ${bw - 1})
                DIV $bw - 1),
              i -> array_join(slice(split(text, ' '), i * $bw + 1, $bw),
                ' '))""")
        // keep-first as a map-side-combinable struct-min aggregate —
        // same skew-proof shape as q89 (source rides inside the
        // winning struct); consumed by the contamination report AND
        // the final pipeline, hence cached
        val ded = docs
          .select(col("doc_id"), col("source"),
            posexplode(blkArr).as(Seq("pos", "blk")))
          .groupBy("blk")
          .agg(min(struct(col("doc_id"), col("pos"), col("source")))
            .as("w"))
          .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"),
            col("w.source").as("source"), col("blk"))
          .groupBy("doc_id", "source")
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("blk")))),
              x => x.getField("blk")), " ").as("text"))
          .cache()
        val train = ded.filter(col("doc_id") % 10 =!= 0)
        val bench = docs.filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text")
        // spread = false (round 20): this report's train side is the
        // in-memory dedup output (the repair is identity there) and
        // its benchmark side a 10 % slice — the only exchange the flag
        // adds is on that small slice, and the driver measured q110 at
        // 0.84× carrying it (r19 VERDICT item 4). q71's report keeps
        // the default: its train side is the file-backed 90 % split,
        // where the spread pays.
        val contam = graft.operators.Dedup
          .contaminationReport(train.select("doc_id", "text"), bench, 3,
            spread = false)
          .select(col("doc_id"), col("contamination_rate"))
        // sub-3-word docs have no shingles, hence no report row: kept
        val clean = train.join(contam, Seq("doc_id"), "left")
          .filter(col("contamination_rate").isNull ||
            col("contamination_rate") <= 0.5)
        val toks = clean.select(col("doc_id"), col("source"),
            TextFuncs.tokenCount(col("text")).cast("long").as("n_tokens"))
          .filter(col("n_tokens") >= 10)
        val wq = Window.partitionBy("source").orderBy("doc_id")
        val quota = toks
          .withColumn("rq", row_number().over(wq))
          .filter(col("rq") <= 40)
          .drop("rq")
        graft.operators.PrefixSum.exclusiveCumsum(quota, col("doc_id"),
            col("n_tokens"), "start_offset", bucketSize = 100L)
          .withColumn("pack_id", expr("start_offset DIV 512"))
          .select("doc_id", "source", "n_tokens", "start_offset",
            "pack_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, source,
            string_split(text, ' ') AS ws FROM documents),
          blocks AS (SELECT doc_id, source, i AS pos,
              array_to_string(list_slice(ws,
                i * $BlockWords + 1, i * $BlockWords + $BlockWords),
                ' ') AS blk
            FROM w, UNNEST(range(0,
              (len(ws) + ${BlockWords - 1}) // $BlockWords)) AS t(i)),
          kept AS (SELECT doc_id, source, pos, blk, row_number() OVER (
              PARTITION BY blk ORDER BY doc_id, pos) AS rk FROM blocks),
          ded AS (SELECT doc_id, source,
              string_agg(blk, ' ' ORDER BY pos) AS text
            FROM kept WHERE rk = 1 GROUP BY doc_id, source),
          ${DedupOps.shingleCtes(
            "(SELECT doc_id, text FROM ded WHERE doc_id % 10 <> 0)", "t")},
          ${DedupOps.shingleCtes(
            "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)",
            "b")},
          contam AS (SELECT tsh.doc_id,
              CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS rate
            FROM tsh LEFT JOIN (SELECT DISTINCT shingle FROM bsh) b
              ON tsh.shingle = b.shingle
            GROUP BY 1),
          clean AS (SELECT d.doc_id, d.source, d.text
            FROM ded d LEFT JOIN contam c ON d.doc_id = c.doc_id
            WHERE d.doc_id % 10 <> 0
              AND (c.rate IS NULL OR c.rate <= 0.5)),
          toks AS (SELECT doc_id, source,
              CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                AS BIGINT) AS n_tokens
            FROM clean
            WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 10),
          quota AS (SELECT doc_id, source, n_tokens FROM (
              SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY doc_id) AS rq FROM toks)
            WHERE rq <= 40),
          packed AS (SELECT doc_id, source, n_tokens,
              COALESCE(CAST(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS start_offset
            FROM quota)
        SELECT doc_id, source, n_tokens, start_offset,
          start_offset // 512 AS pack_id
        FROM packed ORDER BY doc_id""")),

    // BPE merge learning — the tokenizer-training primitive: learn the
    // top-3 byte-pair merges over the corpus vocabulary. The working
    // set is the DISTINCT-WORD vocabulary with frequencies (|vocab|
    // rows — at 100 TB that is millions of rows, never the corpus);
    // each round is ONE hash aggregate over exploded adjacent pairs +
    // a 1-row driver pull of the winning pair (the KMeans-centroid
    // pattern), and the merge application is a literal string replace
    // on the space-separated token form — left-to-right non-
    // overlapping in BOTH engines, so all three rounds are
    // oracle-mirrored as a CTE chain (the TextRank precedent).
    // Tiebreak: max frequency, then lexicographic pair.
    Q("q143_bpe_merges",
      (s, dir) => {
        import s.implicits._
        val vocab = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("freq"))
          .select(concat(lit(" "),
            array_join(split(col("word"), ""), " "), lit(" ")).as("toks"),
            col("freq"))
        var cur = vocab.cache()
        val pairExpr = expr("""CASE WHEN size(a) >= 2 THEN
            transform(sequence(0, size(a) - 2),
              i -> concat(element_at(a, i + 1), ' ', element_at(a, i + 2)))
          ELSE array() END""")
        val merges = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, String, Long)]
        for (rank <- 1 to 3) {
          val top = cur
            .withColumn("a", split(trim(col("toks")), " "))
            .select(col("freq"), explode(pairExpr).as("pair"))
            .groupBy("pair").agg(sum(col("freq")).as("cnt"))
            .orderBy(col("cnt").desc, col("pair"))
            .limit(1).collect().head
          val pair = top.getString(0); val cnt = top.getLong(1)
          val Array(l, r) = pair.split(" ", 2)
          merges += ((rank.toLong, l, r, cnt))
          val next = cur.withColumn("toks",
              expr(s"replace(toks, ' ${l} ${r} ', ' ${l}${r} ')"))
            .cache()
          cur.unpersist()
          cur = next
        }
        cur.unpersist()
        merges.toSeq.toDF("rank", "left_tok", "right_tok", "pair_freq")
          .orderBy("rank")
      },
      Some("""WITH words AS (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        vocab AS (SELECT word, count(*) AS freq FROM words
          WHERE len(word) > 0 GROUP BY 1),
        tok0 AS (SELECT ' ' ||
            array_to_string(regexp_split_to_array(word, ''), ' ') || ' '
            AS toks, freq FROM vocab),
        p1 AS (SELECT a[i] || ' ' || a[i + 1] AS pair,
            CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(toks), ' ') AS a, freq
            FROM tok0), UNNEST(range(1, len(a))) AS t(i)
          GROUP BY 1),
        m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        tok1 AS (SELECT replace(toks, ' ' || m1.pair || ' ',
            ' ' || replace(m1.pair, ' ', '') || ' ') AS toks, freq
          FROM tok0, m1),
        p2 AS (SELECT a[i] || ' ' || a[i + 1] AS pair,
            CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(toks), ' ') AS a, freq
            FROM tok1), UNNEST(range(1, len(a))) AS t(i)
          GROUP BY 1),
        m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        tok2 AS (SELECT replace(toks, ' ' || m2.pair || ' ',
            ' ' || replace(m2.pair, ' ', '') || ' ') AS toks, freq
          FROM tok1, m2),
        p3 AS (SELECT a[i] || ' ' || a[i + 1] AS pair,
            CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(toks), ' ') AS a, freq
            FROM tok2), UNNEST(range(1, len(a))) AS t(i)
          GROUP BY 1),
        m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
        SELECT rank, split_part(pair, ' ', 1) AS left_tok,
          split_part(pair, ' ', 2) AS right_tok, cnt AS pair_freq
        FROM (SELECT CAST(1 AS BIGINT) AS rank, pair, cnt FROM m1
          UNION ALL SELECT 2, pair, cnt FROM m2
          UNION ALL SELECT 3, pair, cnt FROM m3)
        ORDER BY rank""")),

    // Overlapping-window chunking — the RAG/pretraining segmentation
    // op: split each doc into 64-token chunks with stride 48 (16-token
    // overlap so no boundary context is lost), emitting per chunk its
    // offset arithmetic AND the md5 of the exact token slice, so the
    // oracle hash-checks both the window math and the content. Pure
    // per-row explode: no shuffle until the presentation sort; chunk
    // count is ceil((n-16)/48) — derived in INTEGER arithmetic on both
    // engines (a float ceil would 1-off on exact multiples). At 100 TB
    // this is a map-only pass whose output is (id, idx, md5) rows, not
    // repeated text.
    Q("q215_chunk_overlap",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n_tok", size(col("toks")).cast("long"))
          .withColumn("n_chunks",
            greatest(lit(1L), expr("(n_tok - 16 + 47) div 48")))
        d.select(col("doc_id"), col("toks"), col("n_tok"),
            posexplode(sequence(lit(0L), col("n_chunks") - 1))
              .as(Seq("p", "idx")))
          .withColumn("start_tok", col("idx") * 48)
          .withColumn("chunk_len",
            least(lit(64L), col("n_tok") - col("start_tok")))
          .select(col("doc_id"), col("idx").as("chunk_idx"),
            col("start_tok"), col("chunk_len"),
            md5(array_join(slice(col("toks"),
              (col("start_tok") + 1).cast("int"),
              col("chunk_len").cast("int")), " ")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks,
            CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        n AS (SELECT doc_id, toks, n_tok,
            GREATEST(1, (n_tok - 16 + 47) // 48) AS n_chunks FROM d),
        c AS (SELECT doc_id, toks, n_tok, CAST(i.idx AS BIGINT) AS chunk_idx
          FROM n, UNNEST(range(0, n_chunks)) AS i(idx))
        SELECT doc_id, chunk_idx,
          chunk_idx * 48 AS start_tok,
          LEAST(64, n_tok - chunk_idx * 48) AS chunk_len,
          md5(array_to_string(
            toks[CAST(chunk_idx * 48 + 1 AS INTEGER) :
                 CAST(chunk_idx * 48 +
                   LEAST(64, n_tok - chunk_idx * 48) AS INTEGER)], ' '))
            AS chunk_md5
        FROM c ORDER BY doc_id, chunk_idx""")),

    // Temperature-scaled source mixing — the multilingual-sampling
    // formula (weight ∝ n^α, α = 1/2): per source, weight and the
    // expected doc count at a 10k budget. sqrt is a correctly-rounded
    // IEEE op (identical on both engines); the weight SUM is the
    // order-dependent part, so each sqrt is cast to DECIMAL(38,12)
    // BEFORE summing (associative → partitioning-independent, the
    // q134 contract) and the final share is one double division of
    // identical operands. One |sources|-sized aggregate — nothing here
    // grows with corpus size except the first count.
    Q("q216_temperature_mix",
      (s, dir) => {
        val dec = DecimalType(38, 12)
        val counts = Tables.load(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("w", sqrt(col("n_docs").cast(DoubleType)).cast(dec))
        val tot = counts.agg(sum(col("w")).as("tot"))
        counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            (col("w").cast(DoubleType) / col("tot").cast(DoubleType))
              .as("weight"),
            floor(lit(10000.0) * (col("w").cast(DoubleType) /
              col("tot").cast(DoubleType))).cast("long")
              .as("expected_docs"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(38,12)) AS w
          FROM documents GROUP BY 1),
        t AS (SELECT sum(w) AS tot FROM c)
        SELECT source, n_docs,
          CAST(w AS DOUBLE) / CAST(tot AS DOUBLE) AS weight,
          CAST(floor(10000.0 * (CAST(w AS DOUBLE) / CAST(tot AS DOUBLE)))
            AS BIGINT) AS expected_docs
        FROM c, t ORDER BY source""")),

    // Distributed BPE vocabulary learning (tokenizer training): 3
    // merge rounds over the corpus word-frequency table. One
    // corpus-sized shuffle total; each round is vocab-bound — pair
    // counts by hash agg, winner by 1-row struct-min (max count, ties
    // to the lexicographically smallest pair), merge applied map-side
    // with greedy left-to-right run-parity semantics. The oracle
    // replays all three rounds in staged SQL, incl. the greedy scan
    // as a run-parity window (matches grouped into consecutive runs,
    // odd positions within each run merge), and `corpus_syms_after`
    // (Σ wc·|syms| after each merge) pins the merge APPLICATION under
    // the hash, not just the argmax choice.
    Q("q228_bpe_train",
      (s, dir) => {
        graft.operators.BpeTrain
          .train(Tables.load(s, dir, "documents"), "text", rounds = 3)
          .toDF().orderBy("round")
      },
      Some(s"""WITH $BpeCtes
        SELECT CAST(1 AS INTEGER) AS round, w1.a AS lhs, w1.b AS rhs,
          w1.cnt AS pair_count, t1.tot AS corpus_syms_after FROM w1, t1
        UNION ALL
        SELECT CAST(2 AS INTEGER), w2.a, w2.b, w2.cnt, t2.tot FROM w2, t2
        UNION ALL
        SELECT CAST(3 AS INTEGER), w3.a, w3.b, w3.cnt, t3.tot FROM w3, t3
        ORDER BY round""")),

    // Tokenizer fertility by language — the INFERENCE side of q228's
    // learned merges: apply the 3-round merge list to every word and
    // report chars-per-token per lang (the compression-rate metric a
    // tokenizer is judged by). Exact integer sums, one double
    // division; the oracle re-learns the merges via the shared CTE
    // chain and re-tokenizes from s3, so training AND application sit
    // under this hash too.
    Q("q233_tokenizer_fertility",
      (s, dir) => {
        import org.apache.spark.sql.functions.{length => slen}
        val spark = s
        import spark.implicits._
        val docs = Tables.load(s, dir, "documents")
        val merges = graft.operators.BpeTrain
          .train(docs, "text", rounds = 3)
          .collect().sortBy(_.round).map(r => (r.lhs, r.rhs)).toSeq
        val lw = docs
          .select(col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("lang", "word").agg(count(lit(1)).as("wc"))
          .as[(String, String, Long)]
          .map { case (lang, word, wc) =>
            var syms: Seq[String] = word.map(_.toString)
            merges.foreach { case (a, b) =>
              syms = graft.operators.BpeTrain.applyMerge(syms, a, b) }
            (lang, wc, word.length.toLong, syms.length.toLong)
          }
          .toDF("lang", "wc", "n_ch", "n_tok")
        lw.groupBy("lang")
          .agg(sum(col("wc")).as("n_words"),
            sum(col("wc") * col("n_ch")).as("n_chars"),
            sum(col("wc") * col("n_tok")).as("n_tokens"))
          .withColumn("chars_per_token",
            col("n_chars").cast(DoubleType) /
              col("n_tokens").cast(DoubleType))
          .orderBy("lang")
      },
      Some(s"""WITH $BpeCtes,
        lw AS (SELECT lang, w AS word, CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT lang,
              unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents)
          WHERE w <> '' GROUP BY 1, 2)
        SELECT l.lang,
          CAST(sum(l.wc) AS BIGINT) AS n_words,
          CAST(sum(l.wc * length(l.word)) AS BIGINT) AS n_chars,
          CAST(sum(l.wc * len(s.syms)) AS BIGINT) AS n_tokens,
          CAST(CAST(sum(l.wc * length(l.word)) AS BIGINT) AS DOUBLE)
            / CAST(CAST(sum(l.wc * len(s.syms)) AS BIGINT) AS DOUBLE)
            AS chars_per_token
        FROM lw l JOIN s3 s ON s.word = l.word
        GROUP BY 1 ORDER BY lang""")),

    // Snake-order balanced sharding — assign docs to k=8 shards by
    // token-size rank in boustrophedon order (longest doc to shard 0,
    // next 7 fill 1..7, then the next row runs 7..0), the standard
    // deterministic greedy that keeps shard token totals within one
    // document of each other. The GLOBAL rank comes from
    // PrefixSum.exclusiveCumsum (two-phase distributed scan over a
    // composite sort key — never an unpartitioned row_number window,
    // the q147 lesson); the oracle ranks with a window and must land
    // on identical shard totals. `spread` (max−min shard tokens)
    // shows the balance the snake buys.
    Q("q249_balanced_shards",
      (s, dir) => {
        val k = 8
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextFuncs.tokenCount(col("text")).cast("long")
              .as("n_tokens"))
        // composite key: tokens DESC then doc_id ASC, packed into one
        // long; headroom (n_tokens < 2^20, doc_id < 2^40) is
        // runtime-asserted inside the key expression
        val keyed = toks.withColumn("skey",
          snakeShardKey(col("n_tokens"), col("doc_id")))
        val ranked = graft.operators.PrefixSum.exclusiveCumsum(
          keyed, col("skey"), lit(1L), "rank0",
          bucketSize = 1L << 44)
        val sharded = ranked
          .withColumn("pos", col("rank0") % k)
          .withColumn("shard",
            when(expr(s"rank0 DIV $k % 2 = 0"), col("pos"))
              .otherwise(lit(k - 1L) - col("pos")))
        val per = sharded.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tokens"))
        val sp = per.agg((max(col("tokens")) - min(col("tokens")))
          .as("spread"))
        per.crossJoin(broadcast(sp))
          .select(col("shard"), col("n_docs"), col("tokens"),
            col("spread"))
          .orderBy("shard")
      },
      Some("""WITH t AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
              AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT doc_id, n_tokens,
            row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
              AS rank0
          FROM t),
        sh AS (SELECT n_tokens,
            CASE WHEN (rank0 // 8) % 2 = 0 THEN rank0 % 8
                 ELSE 7 - rank0 % 8 END AS shard
          FROM r),
        per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS tokens
          FROM sh GROUP BY 1),
        sp AS (SELECT CAST(max(tokens) - min(tokens) AS BIGINT)
            AS spread FROM per)
        SELECT CAST(shard AS BIGINT) AS shard, n_docs, tokens, spread
        FROM per, sp ORDER BY shard""")),

    // The round-10 curation composite — the session's selection ops
    // chained as ONE hash-checked pipeline (the q69/q110/q200
    // discipline: every stage individually verified, the COMPOSITION
    // under its own oracle): near-dup clusters → cluster-safe split →
    // keep the train side → DSIR selection (English docs pass as the
    // target domain; non-English must win the vote) → snake-order
    // sharding of the survivors. Output pins every stage per doc:
    // cluster, the vote, the shard.
    Q("q250_curation_pipeline",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // stage 1: clusters + cluster-hash split (q232 machinery).
        // The pair pass is SIZE-DISPATCHED (r14 verdict #2): exact
        // inverted-index Jaccard at or below 20k docs — the oracle
        // gate (500 docs) and the sf0.1 bench (5k) both take it, so
        // the hash check stays exact — and MinHash-LSH candidates +
        // exact verify above, where the r14 ScaleProof measured the
        // exact pass's shuffle bending 50× at 10× data. The 10× proof
        // corpus (50k docs) flips to the LSH path.
        val pairs = graft.operators.Dedup.nearDupPairsAuto(
          docs, 3, minJaccard = 0.3, maxDocFreq = 1 << 20)
        val comp = graft.operators.ConnectedComponents
          .components(pairs, "doc_a", "doc_b",
            nodes = Some(docs.select(col("doc_id"))))
          .select(col("node").as("doc_id"),
            col("component").as("cluster_id"))
        val split = comp.withColumn("split",
          when(substring(md5(col("cluster_id").cast("string")), 1, 8)
            < "19999999", "test").otherwise("train"))
        // stage 2: DSIR votes (q229 machinery) — English is the
        // target domain and passes outright; non-English must be
        // majority target-voted
        val votes = graft.operators.Dsir.importanceVotes(
            docs, "doc_id", "text", col("lang") === "en")
          .select(col("doc_id"), col("selected"))
        val trainDocs = docs.join(split, Seq("doc_id"))
          .filter(col("split") === "train")
          .join(votes, Seq("doc_id"), "left")
          .filter(col("lang") === "en" ||
            coalesce(col("selected"), lit(false)))
        // stage 3: snake sharding of the survivors (q249 machinery)
        val toks = trainDocs
          .select(col("doc_id"), col("cluster_id"), col("lang"),
            TextFuncs.tokenCount(col("text")).cast("long")
              .as("n_tokens"))
        val keyed = toks.withColumn("skey",
          snakeShardKey(col("n_tokens"), col("doc_id")))
        graft.operators.PrefixSum.exclusiveCumsum(
            keyed, col("skey"), lit(1L), "rank0",
            bucketSize = 1L << 44)
          .withColumn("pos", col("rank0") % 4)
          .withColumn("shard",
            when(expr("rank0 DIV 4 % 2 = 0"), col("pos"))
              .otherwise(lit(3L) - col("pos")))
          .select("doc_id", "cluster_id", "lang", "n_tokens", "shard")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${DedupOps.shingleCtes("documents")},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jp AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes na ON doc_a = na.doc_id
          JOIN sizes nb ON doc_b = nb.doc_id
          WHERE CAST(inter AS DOUBLE)
            / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.3),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
        reach(node, lab) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node),
        comp AS (SELECT node AS doc_id, min(lab) AS cluster_id
          FROM reach GROUP BY 1),
        spl AS (SELECT doc_id, cluster_id,
            CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
              < '19999999' THEN 'test' ELSE 'train' END AS split
          FROM comp),
        occ AS (SELECT doc_id, lang = 'en' AS is_t,
            substr(md5(ws[t.i] || ' ' || ws[t.i + 1]), 1, 2) AS bucket
          FROM (SELECT doc_id, lang,
              regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents),
            UNNEST(range(1, len(ws))) t(i)
          WHERE len(ws) >= 2),
        bc AS (SELECT bucket,
            CAST(count(*) FILTER (is_t) AS BIGINT) AS tc,
            CAST(count(*) FILTER (NOT is_t) AS BIGINT) AS rc
          FROM occ GROUP BY 1),
        tt AS (SELECT CAST(sum(tc) AS BIGINT) AS st,
            CAST(sum(rc) AS BIGINT) AS sr FROM bc),
        sel AS (SELECT o.doc_id,
            CAST(count(*) FILTER (
              CAST(c.tc + 1 AS DECIMAL(38,0)) * (t.sr + 256)
                > CAST(c.rc + 1 AS DECIMAL(38,0)) * (t.st + 256))
              AS BIGINT) * 2 > CAST(count(*) AS BIGINT) AS selected
          FROM occ o JOIN bc c ON c.bucket = o.bucket, tt t
          WHERE NOT o.is_t GROUP BY o.doc_id),
        chosen AS (SELECT d.doc_id, p.cluster_id, d.lang,
            CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
              AS BIGINT) AS n_tokens
          FROM documents d
          JOIN spl p ON p.doc_id = d.doc_id AND p.split = 'train'
          LEFT JOIN sel s ON s.doc_id = d.doc_id
          WHERE d.lang = 'en' OR coalesce(s.selected, false)),
        rk AS (SELECT doc_id, cluster_id, lang, n_tokens,
            row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
              AS rank0
          FROM chosen)
        SELECT doc_id, cluster_id, lang, n_tokens,
          CAST(CASE WHEN (rank0 // 4) % 2 = 0 THEN rank0 % 4
               ELSE 3 - rank0 % 4 END AS BIGINT) AS shard
        FROM rk ORDER BY doc_id""")),

    // Linear quality probe — the fastText-style weak-label classifier
    // of a published LLM curation pipeline (GPT-3's WebText-similarity
    // filter / LLaMA's reference classifier), trained HERE by
    // full-batch gradient descent: 3 iterations, each ONE map-side-
    // combinable aggregate over the persisted feature frame; the
    // 4-double model lives on the driver and re-enters as literals
    // (control-plane pulls, the q228 BPE convention). The whole
    // optimization trace is under the oracle hash: the DuckDB side
    // replays the identical 3 GD steps as staged CTEs (algebraic
    // sigmoid + DECIMAL(38,6) gradient sums make every step
    // bit-reproducible across engines — see LinearProbe's scaladoc).
    // At 100 TB: iterations × one scan of the cached projection,
    // reduced to 5 scalars each; scoring is map-side; the only
    // shuffle is the presentation sort.
    Q("q256_quality_classifier",
      (s, dir) => {
        val feats = probeFeatures(Tables.load(s, dir, "documents"))
          .persist() // 3 GD iterations + the scoring pass read it
        val w = graft.operators.LinearProbe.train(
          feats, ProbeFeats, "y", iterations = 3, lr = 0.1)
        graft.operators.LinearProbe
          .score(feats, w.toSeq, ProbeFeats)
          .select(col("doc_id"), col("x1"), col("x2"), col("x3"),
            col("y").as("label"), col("score"),
            (col("score") >= 0.5).as("selected"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $ProbeScoredCtes
        SELECT doc_id, x1, x2, x3, label, score,
          score >= 0.5 AS selected
        FROM scored ORDER BY doc_id""")),

    // Uncertainty sampling over the trained probe — the
    // active-learning step that closes the weak-label loop: per
    // source, the k documents the model is LEAST sure about
    // (|score−0.5| smallest) are the ones a curator labels next.
    // Selection runs through the bounded-state TopKAggregate (k
    // pairs per source held map-side, merge-commutative), NOT a
    // row_number window — at 100 TB the window form sorts every
    // group's full membership to keep 5 rows. The oracle IS that
    // window formulation, so the bounded aggregate is hash-proven
    // equal to it; uncertainty doubles are bit-identical because the
    // probe replay is (see LinearProbe).
    Q("q259_uncertainty_sample",
      (s, dir) => {
        val feats = probeFeatures(Tables.load(s, dir, "documents"))
          .persist()
        val w = graft.operators.LinearProbe.train(
          feats, ProbeFeats, "y", iterations = 3, lr = 0.1)
        val scored = graft.operators.LinearProbe
          .score(feats, w.toSeq, ProbeFeats)
          .select(col("source"), col("doc_id"),
            abs(col("score") - lit(0.5)).as("u"))
        scored.groupBy("source")
          .agg(graft.expressions.TopKAggregate
            .bottomK(col("u"), col("doc_id"), 5).as("tk"))
          .select(col("source"), posexplode(col("tk")))
          .select(col("source"),
            (col("pos") + 1).cast("long").as("rk"),
            col("col._2").as("doc_id"),
            col("col._1").as("uncertainty"))
          .orderBy("source", "rk")
      },
      Some(s"""WITH $ProbeScoredCtes,
        u AS (SELECT d.source, s.doc_id, abs(s.score - 0.5) AS u
          FROM scored s JOIN documents d USING (doc_id)),
        rk AS (SELECT source, doc_id, u, row_number() OVER (
            PARTITION BY source ORDER BY u, doc_id) AS rk FROM u)
        SELECT source, CAST(rk AS BIGINT) AS rk, doc_id,
          u AS uncertainty
        FROM rk WHERE rk <= 5 ORDER BY source, rk""")),

    // Structured-data-to-text linearization — the example constructor
    // for training LLMs on tabular facts (the public table-to-text
    // corpus recipe: serialize each fact row through a template,
    // count tokens for the mixture budget). Exercises the warehouse
    // side of the engine inside the corpus pipeline: orders⨝customer
    // is the real fact-dimension shuffle join, nation broadcasts, and
    // everything after is row-local string assembly. Cross-engine
    // exactness: money through DECIMAL(12,2)→string (fixed 2-digit
    // rendering on both engines — raw double→string formatting is NOT
    // portable), dates through DATE→string (ISO on both).
    Q("q260_table_linearize",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val cust = Tables.load(s, dir, "customer")
        val nation = Tables.load(s, dir, "nation")
        val txt = concat(lit("Customer "), col("c_name"),
          lit(" from "), col("n_name"),
          lit(" placed order "), col("o_orderkey").cast("string"),
          lit(" for $"),
          col("o_totalprice").cast(DecimalType(12, 2)).cast("string"),
          lit(" on "), col("o_orderdate").cast(DateType).cast("string"),
          lit(" with priority "), col("o_orderpriority"), lit("."))
        orders.join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("o_orderkey"), col("n_name").as("nation"),
            txt.as("text"))
          .withColumn("n_tokens",
            size(split(col("text"), " ")).cast("long"))
          .orderBy("o_orderkey")
      },
      Some("""WITH t AS (SELECT o_orderkey, n_name AS nation,
            'Customer ' || c_name || ' from ' || n_name ||
              ' placed order ' || CAST(o_orderkey AS VARCHAR) ||
              ' for $' ||
              CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) ||
              ' on ' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR) ||
              ' with priority ' || o_orderpriority || '.' AS text
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey)
        SELECT o_orderkey, nation, text,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM t ORDER BY o_orderkey""")),

    // Fill-in-middle example construction (the code-model training
    // transform, Bavarian et al. 2022's public PSM format): split
    // each document's token stream at deterministic 40%/70%
    // boundaries (integer div — identical on both engines) and emit
    // <PRE>prefix<SUF>suffix<MID>middle. Pure row-local expressions:
    // at 100 TB this is a zero-shuffle map over the corpus (the only
    // exchange below is the presentation sort), which is exactly how
    // a FIM pass must behave — no state, no join, no window.
    Q("q261_fim_split",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .withColumn("n", size(col("ws")))
          .filter(col("n") >= 10)
          .withColumn("p1", expr("(n * 2) div 5"))
          .withColumn("p2", expr("(n * 7) div 10"))
        d.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
            col("p1").cast("long").as("p1"),
            col("p2").cast("long").as("p2"),
            concat(lit("<PRE>"),
              array_join(expr("slice(ws, 1, p1)"), " "),
              lit("<SUF>"),
              array_join(expr("slice(ws, p2 + 1, n - p2)"), " "),
              lit("<MID>"),
              array_join(expr("slice(ws, p1 + 1, p2 - p1)"), " "))
              .as("fim_text"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
            len(string_split(text, ' ')) AS n
          FROM documents),
        f AS (SELECT doc_id, ws, n, (n * 2) // 5 AS p1,
            (n * 7) // 10 AS p2
          FROM w WHERE n >= 10)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
          '<PRE>' || array_to_string(ws[1:p1], ' ') ||
            '<SUF>' || array_to_string(ws[p2+1:n], ' ') ||
            '<MID>' || array_to_string(ws[p1+1:p2], ' ') AS fim_text
        FROM f ORDER BY doc_id"""))
  ) ++ extraQs

  /** The q256 probe's feature projection — shared with the streaming
    * twin (q258) so the trained model applies to a stream by
    * CONSTRUCTION, not by a hand-kept copy. All expressions are
    * stateless and deterministic (exact int→double casts, one
    * correctly-rounded division each), so both engines — and the
    * batch/stream sides — produce identical bits. */
  private[queries] val ProbeFeats = Seq("x1", "x2", "x3")
  private[queries] def probeFeatures(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ws = split(col("text"), " ")
    df.select(col("doc_id"), col("source"),
      (size(ws).cast(DoubleType) / lit(100.0)).as("x1"),
      (col("n_chars").cast(DoubleType) / lit(1000.0)).as("x2"),
      (size(array_distinct(ws)).cast(DoubleType) /
        greatest(size(ws), lit(1)).cast(DoubleType)).as("x3"),
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
        .as("y"))
  }

  /** Shared oracle CTE chain for the probe (q256/q258): features →
    * 3 staged GD steps → per-doc scores, ONE copy so the replay
    * can't drift between the batch and streaming twins. Yields
    * `scored(doc_id, x1, x2, x3, label, score)`. */
  private[queries] def ProbeScoredCtes: String =
    s"""f AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x1,
          CAST(n_chars AS DOUBLE) / 1000.0 AS x2,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / CAST(greatest(len(string_split(text, ' ')), 1)
              AS DOUBLE) AS x3,
          CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END
            AS DOUBLE) AS y
        FROM documents),
      wc0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,
        CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
        CAST(0.0 AS DOUBLE) AS w3),
      ${probeStep(0)},
      ${probeStep(1)},
      ${probeStep(2)},
      scored AS (SELECT f.doc_id, f.x1, f.x2, f.x3, f.y AS label,
          $ProbeP AS score
        FROM f, wc3)"""

  /** Margin / surrogate-sigmoid SQL for the q256 GD replay — the
    * EXACT expression trees LinearProbe builds (left-associated adds,
    * same literal order), so both engines evaluate identical IEEE
    * operations. */
  private def ProbeM = "(w0 + w1 * x1 + w2 * x2 + w3 * x3)"
  private def ProbeP =
    s"(0.5 + $ProbeM / (2.0 * (1.0 + abs($ProbeM))))"

  /** One GD step k → k+1: gradient means over f under weights wc{k}
    * (decimal-exact sums, one double division), then the weight
    * update — mirrors LinearProbe.train's iteration verbatim. */
  private def probeStep(k: Int): String = {
    def d(x: String, alias: String) =
      s"CAST(sum(CAST((($ProbeP - y)$x) AS DECIMAL(38,6))) AS DOUBLE)" +
        s" / CAST(count(*) AS DOUBLE) AS $alias"
    s"""sc${k + 1} AS (SELECT ${d("", "d0")},
          ${d(" * x1", "d1")},
          ${d(" * x2", "d2")},
          ${d(" * x3", "d3")}
        FROM f, wc$k),
        wc${k + 1} AS (SELECT w0 - 0.1 * d0 AS w0, w1 - 0.1 * d1 AS w1,
          w2 - 0.1 * d2 AS w2, w3 - 0.1 * d3 AS w3
        FROM wc$k, sc${k + 1})"""
  }

  /** Shared oracle CTE chain for the BPE queries (q228/q233): word
    * frequencies → char symbols (s0) → three rounds of (pair counts
    * pN, winner wN, greedy run-parity merge application → sN, corpus
    * symbol total tN). THE single copy, so the learned-merge replay
    * can't drift between oracles. (A def so declaration order vs the
    * `qs` val doesn't matter.) */
  private def BpeCtes: String = """wf AS (
          SELECT w AS word, CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
              AS w FROM documents)
          WHERE w <> '' GROUP BY 1),
        s0 AS (SELECT word, wc,
            list_transform(range(1, strlen(word) + 1),
              i -> substr(word, i, 1)) AS syms FROM wf),
        p1 AS (SELECT syms[t.i] AS a, syms[t.i + 1] AS b,
            CAST(sum(wc) AS BIGINT) AS cnt
          FROM s0, UNNEST(range(1, len(syms))) t(i) GROUP BY 1, 2),
        w1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        pos1 AS (SELECT word, wc, syms, t.i
          FROM s0, UNNEST(range(1, len(syms) + 1)) t(i)),
        mat1 AS (SELECT p.word, p.i FROM pos1 p, w1 w
          WHERE p.i < len(p.syms) AND p.syms[p.i] = w.a
            AND p.syms[p.i + 1] = w.b),
        keep1 AS (SELECT word, i FROM (
            SELECT word, i, row_number() OVER (PARTITION BY word, g
              ORDER BY i) AS rn
            FROM (SELECT word, i, i - row_number() OVER (
                PARTITION BY word ORDER BY i) AS g FROM mat1))
          WHERE rn % 2 = 1),
        s1 AS (SELECT p.word, any_value(p.wc) AS wc,
            list(CASE WHEN k.i IS NOT NULL
              THEN p.syms[p.i] || p.syms[p.i + 1]
              ELSE p.syms[p.i] END ORDER BY p.i) AS syms
          FROM pos1 p
          LEFT JOIN keep1 k ON k.word = p.word AND k.i = p.i
          LEFT JOIN keep1 k2 ON k2.word = p.word AND k2.i = p.i - 1
          WHERE k2.i IS NULL GROUP BY p.word),
        t1 AS (SELECT CAST(sum(wc * len(syms)) AS BIGINT) AS tot FROM s1),
        p2 AS (SELECT syms[t.i] AS a, syms[t.i + 1] AS b,
            CAST(sum(wc) AS BIGINT) AS cnt
          FROM s1, UNNEST(range(1, len(syms))) t(i) GROUP BY 1, 2),
        w2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        pos2 AS (SELECT word, wc, syms, t.i
          FROM s1, UNNEST(range(1, len(syms) + 1)) t(i)),
        mat2 AS (SELECT p.word, p.i FROM pos2 p, w2 w
          WHERE p.i < len(p.syms) AND p.syms[p.i] = w.a
            AND p.syms[p.i + 1] = w.b),
        keep2 AS (SELECT word, i FROM (
            SELECT word, i, row_number() OVER (PARTITION BY word, g
              ORDER BY i) AS rn
            FROM (SELECT word, i, i - row_number() OVER (
                PARTITION BY word ORDER BY i) AS g FROM mat2))
          WHERE rn % 2 = 1),
        s2 AS (SELECT p.word, any_value(p.wc) AS wc,
            list(CASE WHEN k.i IS NOT NULL
              THEN p.syms[p.i] || p.syms[p.i + 1]
              ELSE p.syms[p.i] END ORDER BY p.i) AS syms
          FROM pos2 p
          LEFT JOIN keep2 k ON k.word = p.word AND k.i = p.i
          LEFT JOIN keep2 k2 ON k2.word = p.word AND k2.i = p.i - 1
          WHERE k2.i IS NULL GROUP BY p.word),
        t2 AS (SELECT CAST(sum(wc * len(syms)) AS BIGINT) AS tot FROM s2),
        p3 AS (SELECT syms[t.i] AS a, syms[t.i + 1] AS b,
            CAST(sum(wc) AS BIGINT) AS cnt
          FROM s2, UNNEST(range(1, len(syms))) t(i) GROUP BY 1, 2),
        w3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
        pos3 AS (SELECT word, wc, syms, t.i
          FROM s2, UNNEST(range(1, len(syms) + 1)) t(i)),
        mat3 AS (SELECT p.word, p.i FROM pos3 p, w3 w
          WHERE p.i < len(p.syms) AND p.syms[p.i] = w.a
            AND p.syms[p.i + 1] = w.b),
        keep3 AS (SELECT word, i FROM (
            SELECT word, i, row_number() OVER (PARTITION BY word, g
              ORDER BY i) AS rn
            FROM (SELECT word, i, i - row_number() OVER (
                PARTITION BY word ORDER BY i) AS g FROM mat3))
          WHERE rn % 2 = 1),
        s3 AS (SELECT p.word, any_value(p.wc) AS wc,
            list(CASE WHEN k.i IS NOT NULL
              THEN p.syms[p.i] || p.syms[p.i + 1]
              ELSE p.syms[p.i] END ORDER BY p.i) AS syms
          FROM pos3 p
          LEFT JOIN keep3 k ON k.word = p.word AND k.i = p.i
          LEFT JOIN keep3 k2 ON k2.word = p.word AND k2.i = p.i - 1
          WHERE k2.i IS NULL GROUP BY p.word),
        t3 AS (SELECT CAST(sum(wc * len(syms)) AS BIGINT) AS tot FROM s3)"""

  private def extraQs: Seq[Q] = Seq(
    // DSIR-style importance weighting: score every non-English doc by
    // whether its hashed-bigram features look more like the English
    // (target) distribution than the raw pool's own — add-one
    // smoothed likelihood comparison done as exact integer
    // cross-multiplication per bucket (sign-equivalent to the float
    // log-ratio), so the whole selection is hash-checkable. One
    // corpus shuffle for the 256-bucket count table (target and raw
    // in a single conditional aggregate), broadcast joins for
    // scoring.
    Q("q229_dsir_selection",
      (s, dir) => {
        graft.operators.Dsir.importanceVotes(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            col("lang") === "en")
          .orderBy("doc_id")
      },
      Some(DsirOracle)))

  /** q229's oracle, shared verbatim with the q236 streaming twin (the
    * q152/q167 pattern: the stream's drained state must equal the
    * batch answer, so the SAME SQL checks both). */
  private[queries] def DsirOracle: String = """WITH occ AS (
          SELECT doc_id, lang = 'en' AS is_t,
            substr(md5(ws[t.i] || ' ' || ws[t.i + 1]), 1, 2) AS bucket
          FROM (SELECT doc_id, lang,
              regexp_split_to_array(trim(text), '\s+') AS ws
            FROM documents),
            UNNEST(range(1, len(ws))) t(i)
          WHERE len(ws) >= 2),
        c AS (SELECT bucket,
            CAST(count(*) FILTER (is_t) AS BIGINT) AS tc,
            CAST(count(*) FILTER (NOT is_t) AS BIGINT) AS rc
          FROM occ GROUP BY 1),
        t AS (SELECT CAST(sum(tc) AS BIGINT) AS st,
            CAST(sum(rc) AS BIGINT) AS sr FROM c)
        SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(count(*) FILTER (
            CAST(c.tc + 1 AS DECIMAL(38,0)) * (t.sr + 256)
              > CAST(c.rc + 1 AS DECIMAL(38,0)) * (t.st + 256))
            AS BIGINT) AS target_votes,
          CAST(sum(CAST(c.tc + 1 AS DECIMAL(38,0)) * (t.sr + 256)
            - CAST(c.rc + 1 AS DECIMAL(38,0)) * (t.st + 256))
            AS BIGINT) AS margin,
          CAST(count(*) FILTER (
            CAST(c.tc + 1 AS DECIMAL(38,0)) * (t.sr + 256)
              > CAST(c.rc + 1 AS DECIMAL(38,0)) * (t.st + 256))
            AS BIGINT) * 2 > CAST(count(*) AS BIGINT) AS selected
        FROM occ o JOIN c ON c.bucket = o.bucket, t
        WHERE NOT o.is_t
        GROUP BY o.doc_id
        ORDER BY o.doc_id"""
}
