package graft

import org.apache.spark.sql.functions._

/** Round-12 batch-three web/statistical queries (WebOps): S11 HTML
  * extraction semantics the hash oracle proves equal but not
  * "correct" — these pin the adversarial cases — plus plan shapes.
  */
class WebOpsSpec extends SparkSpec {

  test("q276 HTML extraction is a pure map: no join, no window, " +
      "no aggregate before the final order") {
    val p = plan("q276_html_extract")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"),
      s"extraction must inline into the scan stage:\n$p")
  }

  test("q276 adversarial page semantics: script '</p>' never leaks, " +
      "entities decode, unknown &copy; passes through") {
    val out = queries.Registry.queries("q276_html_extract")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val lead = r.getAs[String]("lead80")
      // the script body ("var t = ...") must be gone entirely
      assert(!lead.contains("var t"), s"script leaked: $lead")
      // title extracted with its entity decoded on the clean-text
      // side is NOT asserted here (title keeps raw entities); but the
      // title must carry the doc id
      val title = r.getAs[String]("title")
      assert(title == s"Doc ${r.getAs[Long]("doc_id")} &amp; notes")
      assert(r.getAs[Long]("n_links") == 3L)
      assert(r.getAs[Double]("text_ratio") > 0.0 &&
        r.getAs[Double]("text_ratio") < 1.0)
    }
    // re-derive clean text directly to assert entity handling
    val clean = Tables.load(spark, sf, "documents")
      .select(functions.HtmlFuncs.htmlToText(
        functions.HtmlFuncs.renderPage(
          col("doc_id"), col("source"), col("text"))).as("c"))
      .limit(1).collect().head.getAs[String]("c")
    assert(clean.contains("Doc ") && clean.contains("& notes"),
      s"&amp; must decode in clean text: $clean")
    assert(clean.contains("&copy;"),
      s"unknown entity must pass through untouched: $clean")
    assert(clean.contains("'26"),
      s"&#39; must decode to an apostrophe: $clean")
    assert(!clean.contains("<") || !clean.contains("margin"),
      s"style body must not leak: $clean")
  }

  test("q277 link hosts: fixture yields portal + the 7 mirror " +
      "shards, with portal carrying 2 links per doc") {
    val out = queries.Registry.queries("q277_link_hosts")(spark, sf)
      .collect()
    val hosts = out.map(_.getAs[String]("host")).toSet
    assert(hosts.contains("portal.example.org"))
    assert((0 to 6).forall(i => hosts.contains(s"mirror-$i.example.net")),
      s"all 7 mirror shards expected: $hosts")
    val nDocs = Tables.load(spark, sf, "documents").count()
    val portal = out.find(
      _.getAs[String]("host") == "portal.example.org").get
    assert(portal.getAs[Long]("n_links") == 2L * nDocs)
    assert(portal.getAs[Long]("n_docs") == nDocs)
  }

  test("q278 Wilson LCB: bound strictly below the point estimate " +
      "when 0<k<n, within [0,1], and small-n shrinks harder") {
    val out = queries.Registry.queries("q278_wilson_quality")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (rate, lcb) = (r.getAs[Double]("keep_rate"),
        r.getAs[Double]("wilson_lcb"))
      assert(lcb >= 0.0 && lcb <= 1.0)
      if (r.getAs[Long]("k") > 0) assert(lcb < rate + 1e-12,
        s"LCB must not exceed the point estimate: $lcb vs $rate")
    }
  }

  test("q279 KL: non-negative per source (corpus includes the " +
      "source, so KL >= 0 up to log-quantization), and the token " +
      "table is scanned once then reused") {
    val out = queries.Registry.queries("q279_source_kl")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // each ln is quantized to 1e-6; contributions can dip a hair
      // below zero only by accumulated quantization
      assert(r.getAs[Double]("kl") >= -1e-4,
        s"KL(source||corpus) must be ~non-negative: $r")
      assert(r.getAs[Long]("n_types") > 0L)
    }
  }

  test("q280 blocklist matching is a keyed suffix join against the " +
      "broadcast list — never list × corpus") {
    val p = plan("q280_url_blocklist")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"suffix membership must ride the equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-entry list should broadcast:\n$p")
  }

  test("q280 suffix semantics: subdomains of a blocked domain are " +
      "blocked, exact non-listed hosts pass") {
    val out = queries.Registry.queries("q280_url_blocklist")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val blocked = r.getAs[Boolean]("blocked")
      val expectBlocked =
        id % 8 == 3 || (id % 5 == 0 && id % 8 == 1)
      assert(blocked == expectBlocked, s"doc $id host " +
        s"${r.getAs[String]("host")}: blocked=$blocked")
      if (id % 8 == 3 && id % 5 == 0)
        // ads.site3: the DEEPEST matching suffix listed is
        // site3.example.com — matched via the suffix chain
        assert(r.getAs[String]("matched_suffix") == "site3.example.com")
    }
  }

  test("q279 plan: corpus and source frequency tables derive from " +
      "the persisted (source,token) aggregate, not re-scans") {
    val p = plan("q279_source_kl")
    // tf feeds the join probe, ctf, stot and ctot — every consumer
    // must read the InMemory relation (4 scans of it), and the
    // diamond must not multiply parquet scans
    val mem = "InMemoryTableScan".r.findAllIn(p).length
    assert(mem >= 3, s"tf must be reused via the cache:\n$p")
  }

  test("q284 robots precedence: longest matching prefix wins — " +
      "allow-override of a broader deny, deny-override of a root " +
      "allow, root deny, and the no-match default") {
    val rows = queries.Registry.queries("q284_robots_gate")(spark, sf)
      .filter(col("doc_id").isin(0, 8, 16, 17, 25, 129))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"),
          Option(r.getAs[String]("matched_prefix"))))).toMap
    // /s3/p4 allow overrides the /s3 deny (longest wins)
    assert(rows(17L) == ((true, Some("/s3/p4"))))
    // /s2 deny overrides site0's root allow
    assert(rows(16L) == ((false, Some("/s2"))))
    // root allow is itself a match
    assert(rows(8L) == ((true, Some("/"))))
    // whole-host root deny (the ads. stripe)
    assert(rows(25L) == ((false, Some("/"))))
    // /s3 deny with no deeper override
    assert(rows(129L) == ((false, Some("/s3"))))
    // nothing matches: default allow, no rule recorded
    assert(rows(0L) == ((true, None)))
  }

  test("q293 wild DocBook page: clean text survives SGML-style " +
      "markup (authors readable, entity boundary honest)") {
    val html = {
      val in = getClass.getResourceAsStream("/graft/wild_docbook.html")
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    import spark.implicits._
    val clean = Seq(html).toDF("html")
      .select(functions.HtmlFuncs.htmlToText(col("html")).as("c"))
      .collect().head.getAs[String]("c")
    assert(clean.startsWith("Users and Groups in the Debian System"),
      s"lead text: ${clean.take(80)}")
    assert(clean.contains("Joey Hess") && clean.contains("Colin Watson"))
    // documented decoder boundary: &copy; passes through untouched
    assert(clean.contains("&copy;"))
    // tags with embedded newlines must not leak fragments
    assert(!clean.contains("CLASS=") && !clean.contains("<"))
  }

  test("q284 plan: the rule match is a keyed broadcast join — " +
      "never rules × corpus") {
    val p = plan("q284_robots_gate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rule matching must ride the (host, prefix) equi-join:\n$p")
  }

  test("q286 streaming blocklist equals the q280 batch gate row for " +
      "row (the deploy shape computes the batch semantics)") {
    val batch = queries.Registry.queries("q280_url_blocklist")(
      spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("host"),
        r.getAs[Boolean]("blocked"),
        Option(r.getAs[String]("matched_suffix")))).toSet
    val stream = queries.Registry.queries("q286_stream_blocklist")(
      spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("host"),
        r.getAs[Boolean]("blocked"),
        Option(r.getAs[String]("matched_suffix")))).toSet
    assert(stream == batch,
      s"stream twin diverged: only-batch=${batch -- stream} " +
        s"only-stream=${stream -- batch}")
  }

  test("q307 CIDR: longest prefix wins and the fact side never shuffles") {
    val out = queries.Registry.queries("q307_cidr_enrich")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // doc 1 has routes at /24, /16 AND /8 planted: /24 must win;
    // doc 2 at /16 and /8: /16; doc 3 only /8
    assert(out(1L) == ((24L, "as-colo")))
    assert(out(2L) == ((16L, "as-hoster-b")))
    assert(out(3L) == ((8L, "as-law")))
    val p = plan("q307_cidr_enrich")
    assert(!p.contains("Exchange hashpartitioning"),
      s"route tables must broadcast; the fact side never shuffles:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3,
      s"expected exactly three broadcast prefix joins:\n$p")
  }
}
