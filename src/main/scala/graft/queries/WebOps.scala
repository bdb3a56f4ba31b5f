package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.functions.HtmlFuncs

/** Web-corpus extraction + statistical gating, round 12 batch three:
  * the S11 HTML scrape surface done engine-side (tag strip / entity
  * decode / link + title extraction as codegen'd regexp chains — a
  * pure map at 100 TB), Wilson-LCB keep-rate gating, and per-source
  * KL divergence for mixture balancing. The HTML fixtures are
  * rendered deterministically from document columns INSIDE the query
  * (both engines build the identical page; the extractors are the
  * operator under test — reference scrapes pages the same way with
  * bs4/regex, `windmodel.py:47-58`).
  */
object WebOps {

  // delegated to the one shared float-path contract (ExactAgg)
  private def lnq(c: Column) = graft.functions.ExactAgg.lnq(c)
  private def lnqSql(e: String) = graft.functions.ExactAgg.sqlLnq(e)
  private def exactSum(c: Column) = graft.functions.ExactAgg.dsum12(c)
  private def exactSumSql(e: String) =
    graft.functions.ExactAgg.sqlSum12(e)

  /** Deterministic per-doc host (the q257 URL stripe — every 5th doc
    * lands on an ads. subdomain). Shared by q280/q284 and the
    * streaming blocklist twin. */
  private[queries] def docHost: Column = concat(
    when(col("doc_id") % 5 === 0, "ads.").otherwise(""),
    lit("site"), (col("doc_id") % 8).cast("string"),
    lit(".example.com"))

  /** q280's gate, reused verbatim by the streaming twin: explode each
    * host into its DNS suffix chain (row-local, ≤ #labels rows) and
    * equi-join the broadcast blocklist on the suffix key — subdomains
    * of a blocked domain match by construction, and a million-entry
    * list stays a keyed join, never a regex alternation or a
    * list × corpus scan. */
  private[queries] def suffixBlockGate(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bl = Seq("site3.example.com", "ads.site1.example.com",
      "tracker.example.net").toDF("suffix")
    val parts = split(col("host"), "\\.")
    val sufs = transform(
      sequence(lit(1), size(parts)),
      i => concat_ws(".", slice(parts, i,
        size(parts) - i + lit(1))))
    docs
      .select(col("doc_id"), docHost.as("host"))
      .select(col("doc_id"), col("host"),
        explode(sufs).as("suffix"))
      .join(broadcast(bl.withColumn("hit", lit(1))),
        Seq("suffix"), "left")
      .groupBy("doc_id", "host")
      .agg(min(when(col("hit").isNotNull, col("suffix")))
        .as("matched_suffix"))
      .withColumn("blocked", col("matched_suffix").isNotNull)
      .select("doc_id", "host", "blocked", "matched_suffix")
  }

  /** q280's oracle — the streaming twin reuses it verbatim, proving
    * the deploy shape computes the batch semantics. */
  private[queries] val BlocklistOracle: String =
    """WITH u AS (SELECT doc_id,
          (CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END)
            || 'site' || CAST(doc_id % 8 AS VARCHAR)
            || '.example.com' AS host
        FROM documents),
      bl AS (SELECT * FROM (VALUES ('site3.example.com'),
          ('ads.site1.example.com'),
          ('tracker.example.net')) t(suffix)),
      p AS (SELECT doc_id, host, string_split(host, '.') AS parts,
          len(string_split(host, '.')) AS n FROM u),
      sfx AS (SELECT doc_id, host,
          array_to_string(parts[i:n], '.') AS suffix
        FROM p, UNNEST(range(1, n + 1)) AS t(i)),
      m AS (SELECT sfx.doc_id, sfx.host,
          min(CASE WHEN bl.suffix IS NOT NULL THEN sfx.suffix END)
            AS matched_suffix
        FROM sfx LEFT JOIN bl USING (suffix)
        GROUP BY 1, 2)
      SELECT doc_id, host,
        matched_suffix IS NOT NULL AS blocked, matched_suffix
      FROM m ORDER BY doc_id"""

  val qs: Seq[Q] = Seq(

    // HTML -> text extraction: strip script/style/comments/tags,
    // decode entities, pull title and links — the web-crawl text
    // extraction primitive. Adversarial page: the script body holds a
    // literal "</p>" and a bare `<`; an unknown entity (&copy;) must
    // pass through undecoded. Zero joins, zero windows — extraction
    // inlines into whole-stage codegen as a map over the corpus.
    Q("q276_html_extract",
      (s, dir) => {
        val page = HtmlFuncs.renderPage(
          col("doc_id"), col("source"), col("text"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), page.as("html"))
          .select(col("doc_id"),
            HtmlFuncs.title(col("html")).as("title"),
            size(HtmlFuncs.links(col("html"))).cast(LongType)
              .as("n_links"),
            length(col("html")).cast(LongType).as("html_len"),
            HtmlFuncs.htmlToText(col("html")).as("clean"))
          .select(col("doc_id"), col("title"), col("n_links"),
            col("html_len"),
            length(col("clean")).cast(LongType).as("text_len"),
            (length(col("clean")).cast(DoubleType) /
              col("html_len").cast(DoubleType)).as("text_ratio"),
            substring(col("clean"), 1, 80).as("lead80"))
          .orderBy("doc_id")
      },
      Some {
        val page = HtmlFuncs.renderPageSql("doc_id", "source", "text")
        s"""WITH h AS (SELECT doc_id, $page AS html FROM documents),
          c AS (SELECT doc_id,
              ${HtmlFuncs.titleSql("html")} AS title,
              CAST(len(${HtmlFuncs.linksSql("html")}) AS BIGINT)
                AS n_links,
              CAST(length(html) AS BIGINT) AS html_len,
              ${HtmlFuncs.htmlToTextSql("html")} AS clean
            FROM h)
          SELECT doc_id, title, n_links, html_len,
            CAST(length(clean) AS BIGINT) AS text_len,
            CAST(length(clean) AS DOUBLE) / CAST(html_len AS DOUBLE)
              AS text_ratio,
            substr(clean, 1, 80) AS lead80
          FROM c ORDER BY doc_id"""
      }),

    // Link-host aggregation over the extracted hrefs — the crawl
    // frontier / outlink-graph primitive. explode(links) -> host
    // extraction (still row-local regexp) -> ONE hash aggregate on
    // the host key. At 100 TB the page payload dies at the extract;
    // only (host, doc_id) pairs shuffle.
    Q("q277_link_hosts",
      (s, dir) => {
        val page = HtmlFuncs.renderPage(
          col("doc_id"), col("source"), col("text"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(HtmlFuncs.links(page)).as("url"))
          .select(col("doc_id"), HtmlFuncs.host(col("url")).as("host"))
          .filter(col("host") =!= "")
          .groupBy("host")
          .agg(count(lit(1)).as("n_links"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("host")
      },
      Some {
        val page = HtmlFuncs.renderPageSql("doc_id", "source", "text")
        s"""WITH h AS (SELECT doc_id, $page AS html FROM documents),
          u AS (SELECT doc_id,
              unnest(${HtmlFuncs.linksSql("html")}) AS url
            FROM h),
          e AS (SELECT doc_id, ${HtmlFuncs.hostSql("url")} AS host
            FROM u)
          SELECT host, CAST(count(*) AS BIGINT) AS n_links,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM e WHERE host <> '' GROUP BY 1 ORDER BY host"""
      }),

    // Wilson lower confidence bound (z = 1.96) on each source's
    // keep rate — the public recipe for gating noisy quality signals
    // without over-trusting small sources: a source keeping 3/3 docs
    // scores BELOW one keeping 90/100. Keep = length + lexical
    // diversity cuts. One hash aggregate to exact (k, n) per source;
    // the bound is pure double arithmetic on those exact ints (IEEE
    // ops are exactly rounded, so the identical expression tree
    // hash-matches without decimal staging).
    Q("q278_wilson_quality",
      (s, dir) => {
        val ws = split(col("text"), " ")
        val keep = (col("n_chars") >= 200L &&
          size(array_distinct(ws)).cast(DoubleType) >=
            size(ws).cast(DoubleType) * 0.4).cast(LongType)
        val agg = Tables.load(s, dir, "documents")
          .select(col("source"), keep.as("keep"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("keep")).as("k"))
        val z = lit(1.96)
        val nD = col("n").cast(DoubleType)
        val phat = col("k").cast(DoubleType) / nD
        val z2 = z * z
        val center = phat + z2 / (lit(2.0) * nD)
        val margin = z * sqrt(
          (phat * (lit(1.0) - phat) + z2 / (lit(4.0) * nD)) / nD)
        val denom = lit(1.0) + z2 / nD
        agg.select(col("source"), col("n"), col("k"),
            phat.as("keep_rate"),
            ((center - margin) / denom).as("wilson_lcb"))
          .orderBy("source")
      },
      Some("""WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN n_chars >= 200 AND
                CAST(len(list_distinct(string_split(text, ' ')))
                  AS DOUBLE) >=
                CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.4
              THEN 1 ELSE 0 END) AS BIGINT) AS k
          FROM documents GROUP BY 1)
        SELECT source, n, k,
          CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS keep_rate,
          ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
            - 1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
              / CAST(n AS DOUBLE)))
          / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)) AS wilson_lcb
        FROM a ORDER BY source""")),

    // Per-source KL divergence of the unigram distribution against
    // the full corpus — the mixture-balancing primitive (which
    // sources are distributional outliers?). q is the CORPUS
    // distribution (which contains the source), so q > 0 wherever
    // p > 0 and no smoothing is needed. Scale shape: one (source,
    // token) hash aggregate; the corpus table derives from IT (no
    // second scan); source totals broadcast; Σ p·ln(p/q) through
    // decimal partials with quantized logs.
    Q("q279_source_kl",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).as("c"))
          .persist()
        val stot = tf.groupBy("source").agg(sum("c").as("st"))
        val ctf = tf.groupBy("tok").agg(sum("c").as("cc"))
        val ctot = ctf.agg(sum("cc").as("ct"))
        val p = col("c").cast(DoubleType) / col("st").cast(DoubleType)
        val q = col("cc").cast(DoubleType) / col("ct").cast(DoubleType)
        tf.join(ctf, Seq("tok"))
          .join(broadcast(stot), Seq("source"))
          .crossJoin(broadcast(ctot))
          .withColumn("contrib", p * lnq(p / q))
          .groupBy("source")
          .agg(count(lit(1)).as("n_types"),
            exactSum(col("contrib")).as("kl"))
          .orderBy("source")
      },
      Some(s"""WITH tf AS (SELECT source, t.tok AS tok,
            CAST(count(*) AS BIGINT) AS c
          FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
          GROUP BY 1, 2),
        stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS st
          FROM tf GROUP BY 1),
        ctf AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc
          FROM tf GROUP BY 1),
        ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS ct FROM ctf),
        j AS (SELECT tf.source,
            (CAST(c AS DOUBLE) / CAST(st AS DOUBLE))
              * ${lnqSql("(CAST(c AS DOUBLE) / CAST(st AS DOUBLE)) / " +
          "(CAST(cc AS DOUBLE) / CAST(ct AS DOUBLE))")} AS contrib
          FROM tf JOIN ctf USING (tok) JOIN stot USING (source), ctot)
        SELECT source, CAST(count(*) AS BIGINT) AS n_types,
          ${exactSumSql("contrib")} AS kl
        FROM j GROUP BY 1 ORDER BY source""")),

    // Domain-suffix blocklist filtering — the RefinedWeb/CCNet URL
    // gating step. Real blocklists run to millions of entries, far
    // past regex alternation or a broadcast IN-list: the scalable
    // recipe is to explode each host into its DNS suffix chain
    // (≤ #labels rows per URL, row-local) and equi-join the suffix
    // key against the blocklist — subdomains of a blocked domain
    // match its suffix automatically. The match is a keyed semi/left
    // join: never a scan of list × corpus. Fixture: q257's
    // deterministic URL shapes with an ads. subdomain stripe; a
    // 3-entry inline blocklist stands in for the list table.
    Q("q280_url_blocklist",
      (s, dir) =>
        suffixBlockGate(Tables.load(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(BlocklistOracle)),

    // robots.txt-style longest-prefix path gating — the
    // crawl-politeness primitive that decides which URLs a pipeline
    // may ingest at all. Real rule sets are per-host and deep, so the
    // scalable shape mirrors q280's suffix chain: each URL explodes
    // into its bounded path-prefix chain (root + one row per segment,
    // all row-local) and the chain EQUI-JOINS the rule table on
    // (host, prefix) — never rules × corpus. Precedence is the
    // documented robots rule: the LONGEST matching prefix wins
    // (allow-override of a broader deny works by construction);
    // default allow when nothing matches. Winner selection is an
    // arg-max struct aggregate — prefix lengths within one URL's
    // chain are distinct, so the struct order is decided by length
    // alone and the oracle's rank-by-length replay picks the same
    // rule.
    Q("q284_robots_gate",
      (s, dir) => {
        import s.implicits._
        val rules = Seq(
          ("site1.example.com", "/s3", false),
          ("site1.example.com", "/s3/p4", true),
          ("site2.example.com", "/s1", false),
          ("ads.site1.example.com", "/", false),
          ("site0.example.com", "/", true),
          ("site0.example.com", "/s2", false)
        ).toDF("host", "prefix", "r_allow")
        val id = col("doc_id")
        val u = Tables.load(s, dir, "documents")
          .select(id, docHost.as("host"),
            concat(lit("/s"), (id % 7).cast("string"),
              lit("/p"), (id % 13).cast("string")).as("path"))
        val parts = split(expr("substring(path, 2)"), "/")
        val chain = concat(array(lit("/")),
          transform(sequence(lit(1), size(parts)),
            i => concat(lit("/"),
              concat_ws("/", slice(parts, lit(1), i)))))
        u.select(col("doc_id"), col("host"), col("path"),
            explode(chain).as("prefix"))
          .join(broadcast(rules), Seq("host", "prefix"), "left")
          .groupBy("doc_id", "host", "path")
          .agg(max(when(col("r_allow").isNotNull,
            struct(length(col("prefix")).as("l"),
              col("r_allow").as("a"),
              col("prefix").as("pfx")))).as("win"))
          .select(col("doc_id"), col("host"), col("path"),
            coalesce(col("win.a"), lit(true)).as("allowed"),
            col("win.pfx").as("matched_prefix"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
            (CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END)
              || 'site' || CAST(doc_id % 8 AS VARCHAR)
              || '.example.com' AS host,
            '/s' || CAST(doc_id % 7 AS VARCHAR)
              || '/p' || CAST(doc_id % 13 AS VARCHAR) AS path
          FROM documents),
        r AS (SELECT * FROM (VALUES
            ('site1.example.com', '/s3', false),
            ('site1.example.com', '/s3/p4', true),
            ('site2.example.com', '/s1', false),
            ('ads.site1.example.com', '/', false),
            ('site0.example.com', '/', true),
            ('site0.example.com', '/s2', false))
          t(host, prefix, r_allow)),
        p AS (SELECT doc_id, host, path,
            string_split(path[2:], '/') AS parts FROM u),
        chain AS (SELECT doc_id, host, path, '/' AS prefix FROM p
          UNION ALL
          SELECT doc_id, host, path,
            '/' || array_to_string(parts[1:i], '/') AS prefix
          FROM p, UNNEST(range(1, len(parts) + 1)) AS t(i)),
        m AS (SELECT c.doc_id, r.prefix, r.r_allow,
            row_number() OVER (PARTITION BY c.doc_id
              ORDER BY len(r.prefix) DESC) AS rn
          FROM chain c
          JOIN r ON r.host = c.host AND r.prefix = c.prefix)
        SELECT u.doc_id, u.host, u.path,
          COALESCE(m.r_allow, true) AS allowed,
          m.prefix AS matched_prefix
        FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
          USING (doc_id)
        ORDER BY doc_id""")),

    // Wild-HTML interop pin (the q253/q254 wild-fixture convention):
    // a real Debian DocBook page the repo did not render —
    // SGML-style markup with NEWLINES inside tags (`<TITLE\n>`),
    // uppercase tag/attribute names, attributes on their own lines.
    // The oracle is a constants row computed with an INDEPENDENT
    // reference implementation (CPython's html.parser walked the
    // same bytes: title text, href count/order, absolute-link count),
    // so a regexp regression in the extractors cannot hide behind a
    // mirrored oracle. Extraction itself is the same codegen'd
    // HtmlFuncs pack every corpus query uses.
    Q("q293_html_wild_extract",
      (s, dir) => {
        import s.implicits._
        val page = s.range(1).as[Long].mapPartitions { ids =>
          ids.map { _ =>
            val in = getClass
              .getResourceAsStream("/graft/wild_docbook.html")
            val bytes = try in.readAllBytes() finally in.close()
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          }
        }.toDF("html")
        val ls = HtmlFuncs.links(col("html"))
        page.select(
          length(col("html")).cast(LongType).as("n_chars"),
          HtmlFuncs.title(col("html")).as("title"),
          size(ls).cast(LongType).as("n_links"),
          element_at(ls, 1).as("first_href"),
          element_at(ls, -1).as("last_href"),
          size(filter(ls, u => HtmlFuncs.host(u) =!= ""))
            .cast(LongType).as("n_absolute"),
          size(array_distinct(ls)).cast(LongType).as("n_distinct"))
      },
      Some("""SELECT CAST(19984 AS BIGINT) AS n_chars,
          'Users and Groups in the Debian System' AS title,
          CAST(4 AS BIGINT) AS n_links,
          '#INTRODUCTION' AS first_href,
          'http://article.olduse.net/109@Autzoo.UUCP' AS last_href,
          CAST(1 AS BIGINT) AS n_absolute,
          CAST(4 AS BIGINT) AS n_distinct""")),

    // CIDR longest-prefix-match enrichment — the IP→network (ASN/geo)
    // lookup every crawl pipeline runs on its fetch logs: each page's
    // server IP matches the MOST SPECIFIC route in a routing table.
    // The numeric cousin of the DNS suffix-chain gate (q280): derive
    // the /8, /16 and /24 prefixes ROW-LOCALLY (three shifts — never
    // an explode, never a range join), equi-join each against its
    // broadcast prefix table, and coalesce most-specific-first. Three
    // broadcast hash joins, zero shuffles of the fact side — the
    // longest-prefix semantics entirely in the coalesce order. The
    // deterministic per-doc IP is the multiplicative stripe hash, so
    // the synthetic "fetch log" spreads uniformly over the space and
    // the fixed 10-route table matches a realistic minority of docs.
    Q("q307_cidr_enrich",
      (s, dir) => {
        import s.implicits._
        // routes chosen so the coalesce ORDER is data-proven: doc 1's
        // ip has entries at /24 AND /16 AND /8 (must resolve /24),
        // doc 2's at /16 AND /8 (must resolve /16), doc 3's only /8
        val routes8 = Seq((17L, "as-backbone"), (99L, "as-cdn"),
          (158L, "as-stub-158"), (60L, "as-stub-60"), (218L, "as-law"))
        val routes16 = Seq((40503L, "as-hoster-a"),
          (15470L, "as-hoster-b"))
        val routes24 = Seq((10368889L, "as-colo"),
          (15748353L, "as-lab"))
        val t8 = routes8.toDF("net8", "asn8")
        val t16 = routes16.toDF("net16", "asn16")
        val t24 = routes24.toDF("net24", "asn24")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            (((col("doc_id") % 100000007L) * 2654435761L) %
              4294967296L).as("ip"))
          .withColumn("net8", expr("ip div 16777216"))
          .withColumn("net16", expr("ip div 65536"))
          .withColumn("net24", expr("ip div 256"))
          .join(broadcast(t24), Seq("net24"), "left")
          .join(broadcast(t16), Seq("net16"), "left")
          .join(broadcast(t8), Seq("net8"), "left")
          .select(col("doc_id"), col("ip"),
            when(col("asn24").isNotNull, 24L)
              .when(col("asn16").isNotNull, 16L)
              .when(col("asn8").isNotNull, 8L)
              .otherwise(0L).as("prefix_len"),
            coalesce(col("asn24"), col("asn16"), col("asn8"),
              lit("unassigned")).as("asn"))
          .orderBy("doc_id")
      },
      Some("""WITH ips AS (SELECT doc_id,
            ((doc_id % 100000007) * 2654435761) % 4294967296 AS ip
          FROM documents),
        t8(net8, asn8) AS (VALUES (17, 'as-backbone'), (99, 'as-cdn'),
          (158, 'as-stub-158'), (60, 'as-stub-60'), (218, 'as-law')),
        t16(net16, asn16) AS (VALUES (40503, 'as-hoster-a'),
          (15470, 'as-hoster-b')),
        t24(net24, asn24) AS (VALUES (10368889, 'as-colo'),
          (15748353, 'as-lab'))
        SELECT doc_id, ip,
          CAST(CASE WHEN asn24 IS NOT NULL THEN 24
            WHEN asn16 IS NOT NULL THEN 16
            WHEN asn8 IS NOT NULL THEN 8
            ELSE 0 END AS BIGINT) AS prefix_len,
          coalesce(asn24, asn16, asn8, 'unassigned') AS asn
        FROM ips
        LEFT JOIN t24 ON ip // 256 = net24
        LEFT JOIN t16 ON ip // 65536 = net16
        LEFT JOIN t8 ON ip // 16777216 = net8
        ORDER BY doc_id"""))
  )


}
