package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.{ExactAgg, ZOrder}
import graft.operators.CacheOps

/** Analytics operators, part 2: Z-order layout keys, funnel analysis,
  * per-group NTILE bucketing, the binned range join, epoch-weighted
  * mixture expansion, and INTERSECT/EXCEPT set algebra. All
  * oracle-checked.
  */
object AnalyticsOps {

  val qs: Seq[Q] = Seq(

    // Z-order (Morton) clustering key over (nation, balance bucket):
    // sorting by the interleaved key co-locates rows close in BOTH
    // dimensions, so parquet min/max footer stats prune 2-D predicates
    // — the data-layout half of multi-dimensional data skipping (feed
    // the key to IngestDataset's clusterBy at write time). The key is
    // pure non-negative integer arithmetic, bit-exact in the oracle.
    Q("q96_zorder_key",
      (s, dir) => {
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"),
            col("c_nationkey").cast("long").as("x"),
            (floor(col("c_acctbal")).cast("long") + 1000L).as("y"))
          .withColumn("zkey", ZOrder.interleave16("x", "y"))
          .orderBy("zkey", "c_custkey")
      },
      Some(s"""SELECT c_custkey, x, y,
          ${ZOrder.sqlText("x", "y")} AS zkey
        FROM (SELECT c_custkey,
            CAST(c_nationkey AS BIGINT) AS x,
            CAST(floor(c_acctbal) AS BIGINT) + 1000 AS y
          FROM customer)
        ORDER BY zkey, c_custkey""")),

    // Funnel analysis (view → click → purchase, strictly ordered in
    // event time): per user, the first view, the first click AFTER
    // that view, the first purchase AFTER that click, and how many
    // stages were reached. Each stage is one filter + hash aggregation
    // joined back on the user key — at 100 TB this is three shuffles
    // on user_id (the per-stage aggregates are tiny), never a window
    // over the raw event stream.
    Q("q97_funnel",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click").as("e")
          .join(s1.as("s1"),
            col("e.user_id") === col("s1.user_id") &&
              col("e.ts") > col("s1.t1"))
          .groupBy(col("e.user_id").as("user_id"))
          .agg(min(col("e.ts")).as("t2"))
        val s3 = ev.filter(col("event_type") === "purchase").as("e")
          .join(s2.as("s2"),
            col("e.user_id") === col("s2.user_id") &&
              col("e.ts") > col("s2.t2"))
          .groupBy(col("e.user_id").as("user_id"))
          .agg(min(col("e.ts")).as("t3"))
        s1.join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .select(col("user_id"), col("t1"), col("t2"), col("t3"),
            (lit(1L) +
              when(col("t2").isNotNull, 1L).otherwise(0L) +
              when(col("t3").isNotNull, 1L).otherwise(0L)).as("stages"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
          s3 AS (SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        SELECT s1.user_id, t1, t2, t3,
          CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS stages
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
        ORDER BY s1.user_id""")),

    // Equal-frequency bucketing: NTILE quartiles of document length
    // WITHIN each source (the context-length binning step before
    // sequence packing). The window is partitioned on source — one
    // hash shuffle, no global sort; a global NTILE would funnel the
    // corpus through a single task, which is exactly what this shape
    // avoids. Tie-broken on doc_id so the tiling is deterministic.
    Q("q98_ntile_buckets",
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars"), col("doc_id"))
        Tables.load(s, dir, "documents")
          .withColumn("tile", ntile(4).over(w).cast("long"))
          .groupBy("source", "tile")
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source", "tile")
      },
      Some("""SELECT source, CAST(tile AS BIGINT) AS tile,
          count(*) AS n, min(n_chars) AS min_chars,
          max(n_chars) AS max_chars,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT source, n_chars, ntile(4) OVER (
            PARTITION BY source ORDER BY n_chars, doc_id) AS tile
          FROM documents)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Binned range join: events joined to time periods on
    // containment (ts ∈ [start, end)). The periods are bucketed into
    // fixed 12 h bins and the join runs as an EQUI-join on the bin id
    // plus a residual range filter — the standard rewrite that turns
    // Spark's fallback BroadcastNestedLoopJoin (per-row interval scan
    // — quadratic, a non-starter at 100 TB) into one hash shuffle.
    // The oracle states the naive BETWEEN semantics directly.
    Q("q99_range_join_binned",
      (s, dir) => {
        val bin = 43200L // 12 h — divides the 36 h period length
        val periods = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("period_id"))
          .withColumn("pstart", expr(
            "timestamp'2024-01-01 00:00:00' + " +
              "make_dt_interval(0, CAST(36 * period_id AS INT), 0, 0)"))
          .withColumn("pend", expr(
            "timestamp'2024-01-01 00:00:00' + " +
              "make_dt_interval(0, CAST(36 * (period_id + 1) AS INT), 0, 0)"))
        val pBinned = periods.withColumn("bin", explode(sequence(
          expr(s"CAST(pstart AS LONG) DIV $bin"),
          expr(s"(CAST(pend AS LONG) - 1) DIV $bin"))))
        val ev = Tables.load(s, dir, "events")
          .withColumn("bin", expr(s"CAST(ts AS LONG) DIV $bin"))
        ev.join(pBinned, Seq("bin"))
          .filter(col("ts") >= col("pstart") && col("ts") < col("pend"))
          .groupBy("period_id")
          .agg(count(lit(1)).as("n"),
            ExactAgg.dsum(col("value")).as("total"))
          .orderBy("period_id")
      },
      Some(s"""WITH p AS (SELECT CAST(n_nationkey AS BIGINT) AS period_id,
            TIMESTAMP '2024-01-01 00:00:00'
              + INTERVAL 1 HOUR * (36 * n_nationkey) AS pstart,
            TIMESTAMP '2024-01-01 00:00:00'
              + INTERVAL 1 HOUR * (36 * (n_nationkey + 1)) AS pend
          FROM nation)
        SELECT period_id, count(*) AS n,
          ${ExactAgg.sqlSum("value")} AS total
        FROM events e JOIN p ON e.ts >= p.pstart AND e.ts < p.pend
        GROUP BY 1 ORDER BY 1""")),

    // Epoch-weighted mixture expansion: each source gets 1-3 full
    // epochs (repeats) plus, for every third source id, a
    // deterministic half-epoch selected by hash split — the
    // up/down-sampling step that turns a source-weight recipe into a
    // physical training mix. Pure map-side explode; repeats are
    // generated, never shuffled.
    Q("q100_epoch_mixture",
      (s, dir) => {
        val sid = substring(col("source"), 4, 10).cast("int")
        val inHalf = substring(md5(col("doc_id").cast("string")), 1, 8)
          .lt("80000000")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            (lit(1) + sid % 3 +
              when(sid % 3 === 0 && inHalf, 1).otherwise(0))
              .cast("long").as("n_epochs"))
          .withColumn("epoch", explode(sequence(lit(1L), col("n_epochs"))))
          .select("doc_id", "source", "epoch")
          .orderBy("doc_id", "epoch")
      },
      Some("""WITH t AS (SELECT doc_id, source,
            CAST(1 + (CAST(substr(source, 4) AS INT) % 3)
              + (CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
                  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < '80000000'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_epochs
          FROM documents)
        SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
        FROM t, UNNEST(range(1, n_epochs + 1)) AS g(epoch)
        ORDER BY doc_id, epoch""")),

    // INTERSECT / EXCEPT set algebra over two id-sliced corpus views:
    // the (lang, source) combinations present in both slices, only the
    // first, only the second — tagged and unioned. Spark plans set ops
    // as hash aggregations + joins (distinct semantics), one shuffle
    // each at any scale.
    Q("q101_set_ops",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 3 <= 1)
          .select("lang", "source")
        val b = docs.filter(col("doc_id") % 3 >= 1)
          .select("lang", "source")
        a.intersect(b).withColumn("tag", lit("both"))
          .unionAll(a.except(b).withColumn("tag", lit("a_only")))
          .unionAll(b.except(a).withColumn("tag", lit("b_only")))
          .orderBy("tag", "lang", "source")
      },
      Some("""WITH a AS (SELECT lang, source FROM documents
            WHERE doc_id % 3 <= 1),
          b AS (SELECT lang, source FROM documents WHERE doc_id % 3 >= 1)
        SELECT lang, source, 'both' AS tag
          FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        UNION ALL
        SELECT lang, source, 'a_only' AS tag
          FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        UNION ALL
        SELECT lang, source, 'b_only' AS tag
          FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        ORDER BY tag, lang, source""")),

    // Cohort retention: users grouped by signup week, distinct-user
    // counts per weeks-since-signup. Activity is reduced to distinct
    // (user, week) BEFORE the cohort join — at 100 TB that single
    // early aggregation shrinks the join input from every event to at
    // most users × weeks rows; the week offset is exact integer
    // arithmetic on week-aligned epochs.
    Q("q102_cohort_retention",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val cohort = ev.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(date_trunc("week", col("ts"))).as("cw"))
        val act = ev
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
          .distinct()
        act.join(cohort, "user_id")
          .filter(col("w") >= col("cw"))
          .withColumn("week_offset",
            expr("(CAST(w AS LONG) - CAST(cw AS LONG)) DIV 604800"))
          .groupBy(col("cw").as("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH cohort AS (SELECT user_id,
            min(date_trunc('week', ts)) AS cw
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
          FROM events)
        SELECT cw AS cohort_week,
          (CAST(floor(epoch(w)) AS BIGINT)
            - CAST(floor(epoch(cw)) AS BIGINT)) // 604800 AS week_offset,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM act JOIN cohort USING (user_id)
        WHERE w >= cw
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Column profiling (the stats-refresh analog, reported long-form):
    // row/null/distinct counts plus numeric min/max per column, ONE
    // pass over the table — Spark plans the multi-distinct aggregate
    // with a single EXPAND (n_cols× the rows through one shuffle)
    // instead of one scan per column. String columns report null
    // min/max (cross-engine float formatting makes stringified bounds
    // unportable; numeric bounds are exact doubles).
    Q("q103_profile",
      (s, dir) => {
        val cols = Seq(
          ("c_custkey", true), ("c_name", false),
          ("c_nationkey", true), ("c_acctbal", true))
        val aggs = cols.flatMap { case (c, num) =>
          Seq(count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c")) ++
            (if (num) Seq(min(col(c)).cast("double").as(s"mn_$c"),
              max(col(c)).cast("double").as(s"mx_$c"))
            else Seq.empty)
        }
        val one = Tables.load(s, dir, "customer")
          .agg(count(lit(1)).as("n"), aggs: _*)
        val rows = cols.map { case (c, num) =>
          struct(lit(c).as("column_name"), col("n"),
            (col("n") - col(s"nn_$c")).as("n_null"),
            col(s"nd_$c").as("n_distinct"),
            (if (num) col(s"mn_$c") else lit(null).cast("double"))
              .as("min_v"),
            (if (num) col(s"mx_$c") else lit(null).cast("double"))
              .as("max_v"))
        }
        one.select(explode(array(rows: _*)).as("r"))
          .select("r.*").orderBy("column_name")
      },
      Some("""WITH one AS (SELECT count(*) AS n,
            count(c_custkey) AS nn_k, count(DISTINCT c_custkey) AS nd_k,
            CAST(min(c_custkey) AS DOUBLE) AS mn_k,
            CAST(max(c_custkey) AS DOUBLE) AS mx_k,
            count(c_name) AS nn_nm, count(DISTINCT c_name) AS nd_nm,
            count(c_nationkey) AS nn_nk,
            count(DISTINCT c_nationkey) AS nd_nk,
            CAST(min(c_nationkey) AS DOUBLE) AS mn_nk,
            CAST(max(c_nationkey) AS DOUBLE) AS mx_nk,
            count(c_acctbal) AS nn_ab, count(DISTINCT c_acctbal) AS nd_ab,
            CAST(min(c_acctbal) AS DOUBLE) AS mn_ab,
            CAST(max(c_acctbal) AS DOUBLE) AS mx_ab
          FROM customer)
        SELECT column_name, CAST(n AS BIGINT) AS n,
          CAST(n_null AS BIGINT) AS n_null,
          CAST(n_distinct AS BIGINT) AS n_distinct, min_v, max_v
        FROM (
          SELECT 'c_custkey' AS column_name, n, n - nn_k AS n_null,
            nd_k AS n_distinct, mn_k AS min_v, mx_k AS max_v FROM one
          UNION ALL SELECT 'c_name', n, n - nn_nm, nd_nm,
            NULL, NULL FROM one
          UNION ALL SELECT 'c_nationkey', n, n - nn_nk, nd_nk,
            mn_nk, mx_nk FROM one
          UNION ALL SELECT 'c_acctbal', n, n - nn_ab, nd_ab,
            mn_ab, mx_ab FROM one)
        ORDER BY column_name""")),

    // Snapshot diff (batch CDC): two derived snapshots of `orders` —
    // B drops every 11th key, uplifts every 7th key's price, and A is
    // missing every 13th key (so B shows them as added) — full-outer
    // joined on the primary key into an added/removed/changed report.
    // One co-partitioned shuffle join at any scale; the comparison is
    // per-row double arithmetic, deterministic on both engines.
    Q("q104_snapshot_diff",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val a = orders.filter(col("o_orderkey") % 13 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price_a"))
        val b = orders.filter(col("o_orderkey") % 11 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0,
              col("o_totalprice") * 1.1)
              .otherwise(col("o_totalprice")).as("price_b"))
        a.join(b, Seq("o_orderkey"), "full_outer")
          .withColumn("status",
            when(col("price_a").isNull, "added")
              .when(col("price_b").isNull, "removed")
              .when(col("price_a") =!= col("price_b"), "changed")
              .otherwise("unchanged"))
          .filter(col("status") =!= "unchanged")
          .select("o_orderkey", "status", "price_a", "price_b")
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (SELECT o_orderkey, o_totalprice AS price_a
            FROM orders WHERE o_orderkey % 13 <> 0),
          b AS (SELECT o_orderkey,
              CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                ELSE o_totalprice END AS price_b
            FROM orders WHERE o_orderkey % 11 <> 0)
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN price_a IS NULL THEN 'added'
            WHEN price_b IS NULL THEN 'removed'
            WHEN price_a <> price_b THEN 'changed'
            ELSE 'unchanged' END AS status,
          price_a, price_b
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        WHERE (CASE WHEN price_a IS NULL THEN 'added'
            WHEN price_b IS NULL THEN 'removed'
            WHEN price_a <> price_b THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
        ORDER BY o_orderkey""")),

    // Triangle counting on the word co-occurrence graph, with DEGREE
    // ORIENTATION — every undirected edge points from its
    // lower-(degree, node) endpoint to the higher, so each triangle
    // has exactly one "apex" with two out-edges and the wedge join
    // cost is Σ outdeg² where every outdeg is bounded by √|E|-ish
    // (the classic trick that makes triangle counting survive
    // power-law graphs; unoriented, the same join explodes on hub
    // nodes). Two equi-join shuffles, all-integer arithmetic.
    Q("q105_triangles",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val wspec = Window.partitionBy("doc_id").orderBy("pos")
        val und = toks
          .withColumn("w2", lead(col("w"), 1).over(wspec))
          .filter(col("w2").isNotNull && col("w") =!= col("w2"))
          .select(least(col("w"), col("w2")).as("u"),
            greatest(col("w"), col("w2")).as("v"))
          .distinct()
          // consumed by the degree aggregate (twice) and the edge
          // orientation — materialize instead of re-deriving the
          // window+distinct subplan per consumer
          .cache()
        val deg = und.select(col("u").as("node"))
          .unionAll(und.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        // orient by (deg, node): src is the smaller endpoint
        val oriented = und
          .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
          .select(
            when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
              struct(col("u").as("s"), col("v").as("d")))
              .otherwise(struct(col("v").as("s"), col("u").as("d")))
              .as("e"))
          .select(col("e.s").as("s"), col("e.d").as("d"))
          // three self-join sides read this subplan
          .cache()
        val tri = oriented.as("e1")
          .join(oriented.as("e2"),
            col("e1.s") === col("e2.s") && col("e1.d") < col("e2.d"))
          .join(oriented.as("e3"),
            col("e1.d") === col("e3.s") && col("e2.d") === col("e3.d"))
          .select(col("e1.s").as("a"), col("e1.d").as("b"),
            col("e2.d").as("c"))
        tri.select(col("a").as("node"))
          .unionAll(tri.select(col("b").as("node")))
          .unionAll(tri.select(col("c").as("node")))
          .groupBy("node").agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("n_triangles").desc, col("node"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            generate_subscripts(l, 1) AS pos, unnest(l) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS l
            FROM documents)),
        bi AS (SELECT w AS w1,
            lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM toks),
        und AS (SELECT DISTINCT least(w1, w2) AS u, greatest(w1, w2) AS v
          FROM bi WHERE w2 IS NOT NULL AND w1 <> w2),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM und
            UNION ALL SELECT v FROM und) GROUP BY 1),
        oriented AS (SELECT
            CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
              THEN und.u ELSE und.v END AS s,
            CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
              THEN und.v ELSE und.u END AS d
          FROM und
          JOIN deg du ON und.u = du.node
          JOIN deg dv ON und.v = dv.node),
        tri AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
          FROM oriented e1
          JOIN oriented e2 ON e1.s = e2.s AND e1.d < e2.d
          JOIN oriented e3 ON e1.d = e3.s AND e2.d = e3.d)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY 1 ORDER BY n_triangles DESC, node""")),

    // Incremental aggregate maintenance: the month's running stats are
    // kept as MERGEABLE partial states (count, fixed-scale decimal
    // sum, min/max) — a delta batch is aggregated alone and MERGED
    // into the base state with a second small aggregation, never by
    // re-scanning the base data. The oracle recomputes from scratch
    // over everything; equality holds because every partial is
    // associative (the property ExactAgg's decimal sums exist to
    // provide). This is the algebraic core of materialized-view /
    // streaming-state maintenance.
    Q("q106_agg_merge",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("value").cast(
              org.apache.spark.sql.types.DecimalType(28, 2))).as("sv"),
            min(col("ts")).as("mn"),
            max(col("ts")).as("mx"))
        val cut = "2024-01-16 00:00:00"
        val base = partial(ev.filter(col("ts") < cut))
        val delta = partial(ev.filter(col("ts") >= cut))
        base.unionAll(delta)
          .groupBy("event_type")
          .agg(sum(col("n")).as("n"),
            sum(col("sv")).cast("double").as("total"),
            min(col("mn")).as("first_ts"),
            max(col("mx")).as("last_ts"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, count(*) AS n,
          ${ExactAgg.sqlSum("value")} AS total,
          min(ts) AS first_ts, max(ts) AS last_ts
        FROM events GROUP BY 1 ORDER BY 1""")),

    // Hot-key dimension enrichment through the SALTED join: the fact
    // side's join key is deliberately skewed (87% of events collapse
    // onto one key), and the join runs through SkewJoin.saltedJoin —
    // each hot key spreads across 8 (key, salt) reducers instead of
    // putting one reducer on the critical path. Salting is
    // semantics-free, so the oracle is the plain join; SkewJoinSpec
    // proves the partition bound separately.
    Q("q111_salted_hot_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(least(col("user_id"), lit(20L)).as("hk"), col("value"))
        val dim = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("hk"), col("c_nationkey"))
        graft.operators.SkewJoin
          .saltedJoin(ev, dim, Seq("hk"), saltFactor = 8)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            ExactAgg.dsum(col("value")).as("total"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, count(*) AS n,
          ${ExactAgg.sqlSum("value")} AS total
        FROM (SELECT least(user_id, 20) AS hk, value FROM events) e
        JOIN customer c ON e.hk = c.c_custkey
        GROUP BY 1 ORDER BY 1""")),

    // Continuous-aggregate rollup cascade — the TimescaleDB
    // materialized-rollup shape (raw → hourly → daily, each level
    // built FROM THE PREVIOUS level's partials, never re-touching
    // raw): correctness of the cascade rests on the partial states
    // being mergeable, which decimal sums and counts are exactly. The
    // oracle computes daily straight from the raw table, so the query
    // hash-proves rollup(rollup(raw)) == rollup(raw) — the invariant
    // every incremental-refresh pipeline depends on. At 100 TB the
    // hourly level is what refreshes incrementally (one day's raw
    // partition), and daily reads |hours| rows, not facts.
    Q("q151_rollup_cascade",
      (s, dir) => {
        val hourly = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(
              org.apache.spark.sql.types.DecimalType(28, 2))).as("total"))
        hourly
          .groupBy(col("event_type"),
            date_trunc("day", col("hour")).as("day"))
          .agg(sum(col("n")).as("n"),
            sum(col("total")).cast("double").as("total"))
          .orderBy("event_type", "day")
      },
      Some("""SELECT event_type, date_trunc('day', ts) AS day,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Distribution drift between two periods — the data-quality gate a
    // long-running ingest needs (did this month's feed change shape?).
    // Chi-square-family distance over fixed value bins: per bin,
    // (pa − pb)² / (pa + pb) with pa/pb the period's bin shares. The
    // per-bin contribution is a fixed double-op sequence on exact
    // integer counts; contributions are cast to DECIMAL(38,12) BEFORE
    // the final sum (order-free, engine-exact — the q134 rule). Two
    // hash aggregates (bin counts ride one shuffle, period totals are
    // a tiny second) and the |bins|-sized drift table; no float log,
    // unlike PSI, so the score is oracle-exact.
    Q("q152_distribution_drift",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 12)
        val cutTs = "2024-01-16 00:00:00"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") / 10.0).cast("long").as("bin"),
            (col("ts") < to_timestamp(lit(cutTs))).as("in_a"))
        val bins = ev.groupBy("event_type", "bin")
          .agg(count(when(col("in_a"), 1)).as("na"),
            count(when(!col("in_a"), 1)).as("nb"))
        val totals = ev.groupBy("event_type")
          .agg(count(when(col("in_a"), 1)).as("ta"),
            count(when(!col("in_a"), 1)).as("tb"))
        val pa = col("na").cast("double") / col("ta").cast("double")
        val pb = col("nb").cast("double") / col("tb").cast("double")
        bins.join(totals, "event_type")
          // a series empty in either period has no defined shares —
          // drop it rather than let 0/0 NaN diverge across engines
          .filter(col("ta") > 0 && col("tb") > 0)
          .select(col("event_type"), col("bin"),
            ((pa - pb) * (pa - pb) / (pa + pb)).as("contrib"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_bins"),
            sum(col("contrib").cast(dec)).cast("double").as("drift"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
            CAST(floor(value / 10.0) AS BIGINT) AS bin,
            ts < TIMESTAMP '2024-01-16 00:00:00' AS in_a
          FROM events),
        bins AS (SELECT event_type, bin,
            CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
          FROM e GROUP BY 1, 2),
        tot AS (SELECT event_type,
            CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
            CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS tb
          FROM e GROUP BY 1),
        c AS (SELECT b.event_type, b.bin,
            (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
              - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
            * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
              - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
            / (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
              + CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)) AS contrib
          FROM bins b JOIN tot t ON b.event_type = t.event_type
          WHERE t.ta > 0 AND t.tb > 0)
        SELECT event_type, count(*) AS n_bins,
          CAST(sum(CAST(contrib AS DECIMAL(38,12))) AS DOUBLE) AS drift
        FROM c GROUP BY 1 ORDER BY 1""")),

    // Autocorrelation function — per series, Pearson r between the
    // hourly total and its lag-k hour for k = 1..6 (the seasonality
    // probe that decides resampling windows and forecast features).
    // The fact table reduces to |hours| rows FIRST (one hash
    // aggregate, BIGINT cents so the reduction is exact); lag pairing
    // is an equi-join on (series, hour+k) over that reduced table —
    // gaps in the series self-exclude (both endpoints must exist),
    // with no dense-grid materialization. All six moment sums are
    // exact BIGINT; r is a fixed double-op sequence over them
    // (products taken AFTER the cast so n·Σxy cannot overflow long).
    Q("q158_autocorrelation",
      (s, dir) => {
        val h = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(sum(floor(col("value") * 100d + 0.5d).cast(LongType))
            .as("cents"))
        val probes = h
          .select(col("event_type"), col("hour"),
            col("cents").as("x"),
            explode(array((1 to 6).map(lit(_)): _*)).as("lag"))
          .withColumn("probe_hour",
            expr("timestampadd(HOUR, lag, hour)"))
        val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
        probes
          .join(h.select(col("event_type"),
              col("hour").as("probe_hour"), col("cents").as("y")),
            Seq("event_type", "probe_hour"))
          .groupBy(col("event_type"), col("lag").cast(LongType).as("lag"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("event_type"), col("lag"), col("n"),
            ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              / (sqrt(d(col("n")) * d(col("sxx"))
                  - d(col("sx")) * d(col("sx")))
                * sqrt(d(col("n")) * d(col("syy"))
                  - d(col("sy")) * d(col("sy"))))).as("acf"))
          .orderBy("event_type", "lag")
      },
      Some("""WITH h AS (SELECT event_type,
            date_trunc('hour', ts) AS hour,
            CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type, t.lag, a.cents AS x, b.cents AS y
          FROM h a
          CROSS JOIN UNNEST(range(1, 7)) AS t(lag)
          JOIN h b ON b.event_type = a.event_type
            AND b.hour = a.hour + to_hours(t.lag)),
        m AS (SELECT event_type, lag, count(*) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM p GROUP BY 1, 2)
        SELECT event_type, lag, CAST(n AS BIGINT) AS n,
          (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
        FROM m ORDER BY event_type, lag""")),

    // Peak concurrency — the interval sweep-line: each event holds a
    // resource for 30 minutes; per series report the maximum number of
    // simultaneously-open intervals and when it first occurs (the
    // capacity-planning question). Every interval becomes a +1 at its
    // start and a −1 at its end; a running BIGINT sum over
    // (t, delta, event_id) — ends sort before coincident starts, so
    // half-open [s, e) semantics hold — is exact and associative. The
    // frame is ROWS (not the default RANGE) on BOTH engines, so ties
    // accumulate one row at a time in the same order. The sweep is
    // partition-local per series; at planetary row counts the same
    // sweep shards by (series, day) with per-boundary carry-in, the
    // standard segmentation.
    Q("q160_peak_concurrency",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val deltas = ev.select(col("event_type"), col("event_id"),
            col("ts").as("t"), lit(1L).as("delta"))
          .unionAll(ev.select(col("event_type"), col("event_id"),
            expr("timestampadd(MINUTE, 30, ts)").as("t"),
            lit(-1L).as("delta")))
        val w = Window.partitionBy("event_type")
          .orderBy(col("t"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val runs = deltas.withColumn("run", sum(col("delta")).over(w))
        val peak = runs.groupBy("event_type")
          .agg(max(col("run")).as("peak"))
        runs.join(peak, Seq("event_type"))
          .filter(col("run") === col("peak"))
          .groupBy(col("event_type"))
          .agg(max(col("run")).as("peak"),
            min(col("t")).as("first_peak_ts"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (
          SELECT event_type, event_id, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, event_id, ts + INTERVAL 30 MINUTE,
            -1 FROM events),
        r AS (SELECT event_type, t,
            CAST(sum(delta) OVER (PARTITION BY event_type
              ORDER BY t, delta, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run
          FROM d),
        pk AS (SELECT event_type, max(run) AS peak FROM r GROUP BY 1)
        SELECT r.event_type, CAST(max(run) AS BIGINT) AS peak,
          min(t) AS first_peak_ts
        FROM r JOIN pk ON r.event_type = pk.event_type
          AND r.run = pk.peak
        GROUP BY 1 ORDER BY 1""")),

    // Key-distribution profiler — the skew diagnostic that decides
    // whether a join needs salting (the q111 operator) before it runs:
    // per series, the key count, the heaviest key's share, and the
    // Gini coefficient of the per-key frequency distribution
    // (0 = uniform, →1 = one hot key). Fact rows reduce to the
    // |keys|-sized frequency table first; the rank window runs over
    // that reduced table (tie order cannot change Σ i·f_i within a
    // tie block, so the coefficient is deterministic); the Gini is a
    // fixed double-op sequence over exact BIGINT sums, products taken
    // after the cast.
    Q("q161_key_skew_profile",
      (s, dir) => {
        val f = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("c"), col("user_id"))
        val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
        f.withColumn("i", row_number().over(w).cast(LongType))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            max(col("c")).as("top1"),
            sum(col("i") * col("c")).as("si"))
          .select(col("event_type"), col("n_keys"), col("n_rows"),
            (d(col("top1")) / d(col("n_rows"))).as("top1_share"),
            ((lit(2.0d) * d(col("si"))
              - d(col("n_keys") + 1L) * d(col("n_rows")))
              / (d(col("n_keys")) * d(col("n_rows")))).as("gini"))
          .orderBy("event_type")
      },
      Some("""WITH f AS (SELECT event_type, user_id,
            count(*) AS c FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, c,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY c, user_id) AS BIGINT) AS i
          FROM f),
        g AS (SELECT event_type,
            CAST(count(*) AS BIGINT) AS n_keys,
            CAST(sum(c) AS BIGINT) AS n_rows,
            CAST(max(c) AS BIGINT) AS top1,
            CAST(sum(i * c) AS BIGINT) AS si
          FROM r GROUP BY 1)
        SELECT event_type, n_keys, n_rows,
          CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
          (2.0 * CAST(si AS DOUBLE)
            - CAST(n_keys + 1 AS DOUBLE) * CAST(n_rows AS DOUBLE))
          / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS gini
        FROM g ORDER BY 1""")),

    // Hierarchical BOM roll-up — the recursive-CTE workload Spark has
    // no native operator for, expressed the scalable way: level-by-
    // level frontier expansion with KEYED joins (the ConnectedComponents
    // device), localCheckpoint truncating lineage per level, loop
    // bounded by tree depth = O(log |parts|). The containment forest
    // derives from the part table (parent = key div 8, per-parent
    // quantity 1 + key % 4), every multiplier/cost is integer-exact
    // (cents), and the oracle is DuckDB's actual WITH RECURSIVE over
    // the same forest — Spark's iterative join plan must reproduce the
    // genuine recursive semantics: per ancestor, the descendant count
    // and the quantity-weighted cost of its whole subtree. At 100 TB
    // each level is one hash join on the frontier's anc key; no
    // collect ever sees node rows (the driver only counts frontier
    // emptiness, the CC termination device).
    Q("q224_bom_rollup",
      (s, dir) => {
        val parts = Tables.load(s, dir, "part")
          .select(col("p_partkey").cast("long").as("child"),
            expr("CAST(p_partkey AS LONG) div 8").as("parent"),
            (lit(1) + col("p_partkey") % 4).cast("long").as("qty"),
            round(col("p_retailprice") * 100).cast("long").as("cost"))
          .cache()
        val e = parts.select(col("child").as("c"), col("parent").as("p"),
          col("qty").as("q"))
        var frontier = parts
          .select(col("child").as("node"), col("child").as("anc"),
            lit(1L).as("mult"))
          .localCheckpoint()
        val levels = scala.collection.mutable.ArrayBuffer(frontier)
        var n = frontier.count()
        while (n > 0) {
          frontier = frontier.join(e, col("anc") === col("c"))
            .filter(col("p") >= 1)
            .select(col("node"), col("p").as("anc"),
              (col("mult") * col("q")).as("mult"))
            .localCheckpoint()
          n = frontier.count()
          if (n > 0) levels += frontier
          // the empty terminal frontier never joins `levels` — drop
          // its registered blocks immediately
          else CacheOps.releaseCheckpoint(frontier)
        }
        levels.reduce(_ unionAll _)
          .join(parts.select(col("child").as("node"), col("cost")),
            "node")
          .groupBy(col("anc").as("part_key"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("mult") * col("cost")).as("rolled_cost_cents"))
          .orderBy("part_key")
      },
      Some("""WITH RECURSIVE e AS (SELECT p_partkey AS child,
            p_partkey // 8 AS parent, 1 + p_partkey % 4 AS qty,
            CAST(round(p_retailprice * 100) AS BIGINT) AS cost
          FROM part),
        walk(node, anc, mult) AS (
          SELECT child, child, CAST(1 AS BIGINT) FROM e
          UNION ALL
          SELECT w.node, s.parent, w.mult * s.qty
          FROM walk w JOIN e s ON w.anc = s.child
          WHERE s.parent >= 1)
        SELECT w.anc AS part_key,
          CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(sum(w.mult * c.cost) AS BIGINT) AS rolled_cost_cents
        FROM walk w JOIN e c ON w.node = c.child
        GROUP BY 1 ORDER BY 1""")),

    // INTEGER PageRank, 3 power iterations — the mass-redistribution
    // fixed point that complements the other iterative graph ops (CC
    // propagates labels, LPA votes, BOM rolls a tree up; PageRank
    // conserves and redistributes a global quantity). Determinism
    // device: all arithmetic is integer floor-division (rank micros,
    // share = r div outdeg, damping = (850·m) div 1000), so Spark's
    // shuffle-order-dependent summation and DuckDB agree EXACTLY —
    // the standard float formulation could never hash-match across
    // engines. The graph derives two out-edges per customer from the
    // key (modulo the 1-row broadcast max key, the q137 device), so
    // every node has outdeg ≥ 1 (self-loops kept — dropping them
    // could orphan a node's mass). Per iteration: one keyed join
    // edges⋈rank + one hash aggregate; lineage truncated per round.
    Q("q225_pagerank",
      (s, dir) => {
        val verts = Tables.load(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("v")).cache()
        val mx = verts.agg(max(col("v")).as("n"))
        val vn = verts.crossJoin(broadcast(mx))
        val edges = vn
          .select(col("v").as("src"),
            ((col("v") * 13 + 1) % col("n") + 1).as("dst"))
          .unionAll(vn.select(col("v").as("src"),
            ((col("v") * 29 + 7) % col("n") + 1).as("dst")))
          .distinct().cache()
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        var rank = verts.select(col("v"), lit(1000000L).as("r"))
        for (_ <- 1 to 3) {
          val contrib = edges
            .join(outdeg, "src")
            .join(rank.select(col("v").as("src"), col("r")), "src")
            .select(col("dst").as("v"), expr("r div deg").as("share"))
            .groupBy("v").agg(sum(col("share")).as("m"))
          val prev = rank
          rank = verts
            .join(contrib, Seq("v"), "left")
            .select(col("v"),
              (lit(150000L) + expr("(850 * coalesce(m, 0L)) div 1000"))
                .as("r"))
            .localCheckpoint()
          CacheOps.releaseCheckpoint(prev)
        }
        rank
          .select(col("v").as("cust"), col("r").as("rank_micro"))
          .orderBy("cust")
      },
      Some("""WITH mx AS (SELECT max(c_custkey) AS n FROM customer),
        verts AS (SELECT c_custkey AS v FROM customer),
        edges AS (SELECT DISTINCT src, dst FROM (
          SELECT v AS src, (v * 13 + 1) % n + 1 AS dst FROM verts, mx
          UNION ALL
          SELECT v, (v * 29 + 7) % n + 1 FROM verts, mx)),
        dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
          FROM edges GROUP BY 1),
        r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
        c1 AS (SELECT e.dst AS v, sum(r0.r // dg.deg) AS m
          FROM edges e JOIN dg ON e.src = dg.src
          JOIN r0 ON r0.v = e.src GROUP BY 1),
        r1 AS (SELECT vt.v,
            CAST(150000 + (850 * coalesce(c1.m, 0)) // 1000 AS BIGINT) AS r
          FROM verts vt LEFT JOIN c1 ON c1.v = vt.v),
        c2 AS (SELECT e.dst AS v, sum(r1.r // dg.deg) AS m
          FROM edges e JOIN dg ON e.src = dg.src
          JOIN r1 ON r1.v = e.src GROUP BY 1),
        r2 AS (SELECT vt.v,
            CAST(150000 + (850 * coalesce(c2.m, 0)) // 1000 AS BIGINT) AS r
          FROM verts vt LEFT JOIN c2 ON c2.v = vt.v),
        c3 AS (SELECT e.dst AS v, sum(r2.r // dg.deg) AS m
          FROM edges e JOIN dg ON e.src = dg.src
          JOIN r2 ON r2.v = e.src GROUP BY 1),
        r3 AS (SELECT vt.v,
            CAST(150000 + (850 * coalesce(c3.m, 0)) // 1000 AS BIGINT) AS r
          FROM verts vt LEFT JOIN c3 ON c3.v = vt.v)
        SELECT v AS cust, r AS rank_micro FROM r3 ORDER BY cust"""))
  )
}
