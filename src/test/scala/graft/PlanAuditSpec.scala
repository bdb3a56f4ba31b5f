package graft

import org.apache.spark.sql.functions._

/** PlanAudit (tree-walk) vs the text-grep failure modes it replaces:
  * cached-subtree reprints inflating counts, and real diamonds /
  * BNLJs hiding in the noise. */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  test("a BNLJ inside a twice-scanned cache counts ONCE (q306's '23')") {
    val dim = spark.range(0, 3).toDF("d")
    val fact = spark.range(0, 50).toDF("id")
    // bounded broadcast nested-loop kernel, then persisted and consumed
    // by two branches — the r13 q306 shape whose EXPLAIN printed the
    // kernel at every scan site
    val kernel = fact.crossJoin(broadcast(dim))
      .withColumn("v", $"id" * $"d").persist()
    try {
      kernel.count() // materialize so both branches scan the cache
      val out = kernel.filter($"v" > 10).agg(sum("v").as("s"))
        .union(kernel.filter($"v" <= 10).agg(sum("v").as("s")))
      val c = PlanAudit.audit(out)
      assert(c.bnlj == 1, s"expected the one cached BNLJ kernel, got $c")
      assert(c.cartesian == 0)
    } finally kernel.unpersist(blocking = true)
  }

  test("q306_cell_conductance hand-count: 5 distinct BNLJ kernels, " +
      "not the 23 the text grep reported") {
    try {
      val df = graft.queries.Registry.queries("q306_cell_conductance")(
        spark, sf)
      val c = PlanAudit.audit(df)
      // hand count from the deduped tree walk (ScratchAudit dump,
      // r14): 23 raw BNLJ sites collapse to 5 distinct kernel objects
      // — the top-level stats join, the annTopK assign kernel + its
      // inner centroid broadcast, and one per union branch. All are
      // documented bounded broadcasts; the text grep's 23 was cache
      // reprint noise
      assert(c.bnlj == 5, s"q306 hand count is 5 bounded kernels, got $c")
      assert(c.cartesian == 0, s"q306 must not plan a cartesian: $c")
    } finally graft.operators.CacheOps.sweep(spark, blocking = true)
  }

  test("a planted unpersisted diamond is flagged; persisting clears it") {
    // expensive shuffle-free subtree (no exchange, so exchange-reuse
    // cannot silently fix it) consumed by two branches
    // both consumers read the same column, so column pruning can't
    // make the two subtrees structurally different
    def heavy = spark.range(0, 1000).toDF("id")
      .withColumn("h", sha2(concat($"id".cast("string"), lit("x")), 256))
      .filter(length($"h") > 10)
    val unpersisted = heavy.agg(sum(length($"h")).cast("long").as("v"))
      .union(heavy.agg(max(length($"h")).cast("long").as("v")))
    val planted = PlanAudit.audit(unpersisted)
    assert(planted.largestDupSubtree >= 3,
      s"diamond (scan+project+filter twice) not flagged: $planted")

    val cached = heavy.persist()
    try {
      cached.count()
      val fixed = PlanAudit.audit(
        cached.agg(sum(length($"h")).cast("long").as("v"))
          .union(cached.agg(max(length($"h")).cast("long").as("v"))))
      assert(fixed.largestDupSubtree < planted.largestDupSubtree,
        s"persisting must shrink the diamond: $fixed vs $planted")
    } finally cached.unpersist(blocking = true)
  }

  test("hash-exchange count matches a hand-planned aggregate") {
    val c = PlanAudit.audit(
      spark.range(0, 100).toDF("id").groupBy(($"id" % 7).as("k"))
        .agg(count("*").as("n")))
    assert(c.hashExchanges == 1, s"one shuffle for one groupBy: $c")
    assert(c.bnlj == 0 && c.cartesian == 0)
  }
}
