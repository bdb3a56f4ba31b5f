package graft

import org.apache.spark.sql.functions._

import graft.functions.Reshape
import graft.operators.{CoLocate, SkewJoin}

/** Scale-posture checks: salting, bucketed co-location, wide-melt
  * codegen safety, SQL registration of custom expressions. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The complement of manual salting (SkewJoin): for joins we DON'T
    // pre-salt, the engine's posture at 100 TB is AQE's runtime
    // skew-join split. Prove it actually engages on this build: a
    // 1-hot-key join under low split thresholds must show skew=true
    // in the FINAL adaptive plan (only available post-execution), and
    // the result must equal the non-adaptive join.
    val pad = "x" * 64
    val left = spark.range(0, 30000)
      .select(when($"id" < 29000, lit(7L)).otherwise($"id" % 64)
        .as("k"), concat(lit(pad), $"id").as("v"))
    val right = spark.range(0, 64).select($"id".as("k"),
      concat(lit("r"), $"id").as("w"))
    val got = withConf(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = left.join(right, "k")
      // execute THIS QueryExecution (count() would build a new one and
      // leave `joined`'s adaptive plan unfinalized)
      val got = joined.collect().length.toLong
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"),
        s"adaptive plan did not finalize:\n$finalPlan")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot partition:\n$finalPlan")
      got
    }
    assert(got == left.join(right, "k").count(),
      "skew-split join changed the row count")
  }

  test("saltedJoin equals plain join results (inner + left)") {
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v")
    val right = Seq((1, "X"), (2, "Y")).toDF("k", "w")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").collect()
        .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).toSet
    assert(norm(SkewJoin.saltedJoin(left, right, Seq("k"), 4)) ==
      norm(left.join(right, Seq("k"))))
    assert(norm(SkewJoin.saltedJoin(left, right, Seq("k"), 4, "left")) ==
      norm(left.join(right, Seq("k"), "left")))
  }

  test("saltedJoin rejects join types that would duplicate right rows") {
    val left = Seq((1, "a")).toDF("k", "v")
    val right = Seq((1, "X")).toDF("k", "w")
    for (jt <- Seq("right", "right_outer", "full", "full_outer"))
      intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(left, right, Seq("k"), 4, jt)
      }
    // semi/anti stay supported: one salt per left row, replicated right
    assert(SkewJoin.saltedJoin(left, right, Seq("k"), 4, "left_semi")
      .count() == 1)
    assert(SkewJoin.saltedJoin(left, right, Seq("k"), 4, "left_anti")
      .count() == 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val l = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    CoLocate.writeBucketed(o, "b_orders", "o_orderkey", 4)
    CoLocate.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
      "o_orderkey", 4)
    val joined = CoLocate.read(spark, "b_orders")
      .join(CoLocate.read(spark, "b_lineitem"), "o_orderkey")
    assert(!CoLocate.hasShuffle(joined),
      "bucketed join must not shuffle")
    // sanity: un-bucketed twin DOES shuffle (broadcast disabled so the
    // tiny test tables can't sidestep the exchange)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plain = o.join(
        l.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      assert(CoLocate.hasShuffle(plain))
      assert(joined.count() == plain.count())
    }
  }

  test("loadEventsSince pushes the time bound into the parquet scan") {
    // bound chosen inside the fixture's time range so both paths return
    // a proper subset
    val since = java.time.Instant.parse("2024-01-10T00:00:00Z")
      .getEpochSecond * 1000000L
    val fast = Tables.loadEventsSince(spark, sf, since)
    val plan = fast.queryExecution.executedPlan.toString
    // the raw-long predicate must reach the scan's pushed filters...
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"raw-nanos bound not pushed to parquet:\n$plan")
    // ...and filtering the CONVERTED column lands a bound in
    // PushedFilters too. On this fixture's timestamp_ntz layout stock
    // Spark already pushes the cast; GraftSessionSpec pins
    // PushTimestampConversionBounds itself on a raw-nanos layout
    val naive = Tables.load(spark, sf, "events")
      .filter(col("ts") >= expr(s"timestamp_micros($since)"))
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("GreaterThanOrEqual(ts"),
      s"optimizer rule failed to derive the raw bound:\n$naivePlan")
    // same rows either way, and a real subset of the table
    assert(fast.count() == naive.count())
    assert(fast.count() > 0 &&
      fast.count() < Tables.load(spark, sf, "events").count())
  }

  test("melt survives thousands of value columns (codegen-safe path)") {
    val width = 3000
    val cols = (0 until width).map(i => lit(i.toDouble).as(s"t$i"))
    val wide = spark.range(4).select(col("id") +: cols: _*)
    val melted = Reshape.melt(wide, Seq("id"),
      (0 until width).map(i => s"t$i"))
    assert(melted.count() == 4L * width)
    assert(melted.filter($"variable" === "t2999").count() == 4)
  }

  test("cosine_similarity callable from SQL after registration") {
    val r = spark.sql(
      """SELECT cosine_similarity(
           CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
           CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c""")
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("cosine_similarity rejects array<double> at analysis time") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D))")
        .collect()
    }
  }

  test("q99 range join plans as an equi-join, never a nested loop") {
    val plan = graft.queries.Registry
      .queries("q99_range_join_binned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bin rewrite failed — BNLJ in plan:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no hash-based join found:\n$plan")
  }

  test("q107 pair join is keyed on the cluster id") {
    // the plan legitimately contains 1-row BroadcastNestedLoopJoins
    // (k-means broadcasts ALL centroids as one row per iteration);
    // what must never appear is an UNKEYED pairwise join — the
    // quadratic phase has to ride a hash/merge join on the cluster id
    val plan = graft.queries.Registry
      .queries("q107_semantic_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin [cluster") ||
      plan.contains("ShuffledHashJoin [cluster") ||
      plan.contains("BroadcastHashJoin [cluster"),
      s"no cluster-keyed pair join found:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unkeyed cartesian pair join:\n$plan")
  }

  test("q113 fuzzy linkage rides the block equi-join, not a BNLJ") {
    val plan = graft.queries.Registry
      .queries("q113_fuzzy_block_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocking key not used as the join key:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no hash-based join found:\n$plan")
  }

  test("q147 entity resolution has no global window and no cartesian") {
    // r9 ranked the entity vocabulary with an unpartitioned row_number
    // window — a single-reducer sort over every entity name at corpus
    // scale. The hash-id form must plan with NO Window at all (node
    // ids are map-side xxhash64, canonical names a min() aggregate)
    // and, like q113, keep the fuzzy pairing on the block equi-join.
    val plan = graft.queries.Registry
      .queries("q147_entity_resolution")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"entity resolution must not rank the vocabulary globally:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocking key not used as the join key:\n$plan")
  }

  test("levenshtein bound rule injects the length prefilter") {
    val plan = graft.queries.Registry
      .queries("q113_fuzzy_block_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("abs((length(") ||
      plan.contains("abs((char_length("),
      s"length-difference prefilter missing from join condition:\n$plan")
  }

  test("q116 EWMA is one partition-local window, no self-join") {
    val plan = graft.queries.Registry
      .queries("q116_ewma")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"EWMA must not self-join:\n$plan")
    // exactly one logical window over (user_id): rn + 15 lags fuse
    assert(plan.contains("Window"), s"expected a window:\n$plan")
  }

  test("q119 mode is two hash aggregates, no window over counts") {
    val plan = graft.queries.Registry
      .queries("q119_mode_per_group")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"mode must use the arg-max aggregate, not a rank window:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected hash aggregation:\n$plan")
  }

  private def nnFixture = {
    val pts = Seq((1L, 10.5, 20.5), (2L, -75.0, 3.0), (3L, 179.0, -89.0),
      (4L, 0.0, 0.0), (5L, 44.0, 44.0)).toDF("id", "lon", "lat")
    val refs = Seq((100L, 11.0, 21.0), (101L, -80.0, 0.0),
      (102L, 170.0, -80.0), (103L, 0.0, 0.0), (104L, 0.5, 0.5),
      (105L, 120.0, 70.0)).toDF("station", "slon", "slat")
    (pts, refs)
  }

  test("nearestJoin dispatch flips from broadcast to grid at the threshold") {
    val (pts, refs) = nnFixture
    val below = graft.operators.SpatialJoin.nearestJoin(
      pts, Seq("id"), "lon", "lat", refs, "station", "slon", "slat",
      cellDeg = 30.0, broadcastThreshold = 100)
    assert(below.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "small reference set must take the broadcast path")
    val above = graft.operators.SpatialJoin.nearestJoin(
      pts, Seq("id"), "lon", "lat", refs, "station", "slon", "slat",
      cellDeg = 30.0, broadcastThreshold = 3)
    val plan = above.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"large reference set must avoid the all-pairs join:\n$plan")
  }

  test("nearestJoin grid path is exact: equals the broadcast result") {
    val (pts, refs) = nnFixture
    def run(threshold: Long) = graft.operators.SpatialJoin.nearestJoin(
        pts, Seq("id"), "lon", "lat", refs, "station", "slon", "slat",
        cellDeg = 30.0, broadcastThreshold = threshold)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // grid path (threshold 0) must reproduce the exact argmin even for
    // point 3, whose nearest ref sits several cells away (phase-1 ring
    // expansion + phase-2 certification both exercised)
    assert(run(0) == run(100))
  }

  test("idwJoin dispatch flips and the grid path covers the radius") {
    val (pts, refs) = nnFixture
    val vrefs = refs.withColumn("v", col("station").cast("double"))
    val below = graft.operators.SpatialJoin.idwJoin(
      pts, Seq("id"), "lon", "lat", vrefs, "slon", "slat", "v",
      cellDeg = 30.0, broadcastThreshold = 100)
    assert(below.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val above = graft.operators.SpatialJoin.idwJoin(
      pts, Seq("id"), "lon", "lat", vrefs, "slon", "slat", "v",
      cellDeg = 200.0, radiusCells = 1, broadcastThreshold = 3)
    val plan = above.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"grid IDW must be an equi-join on cells:\n$plan")
    // with a cell size covering the whole domain the truncated form
    // degenerates to the exact one — results must agree bit-for-bit
    val exact = graft.operators.SpatialJoin.idwJoin(
        pts, Seq("id"), "lon", "lat", vrefs, "slon", "slat", "v",
        cellDeg = 200.0, broadcastThreshold = 100)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val grid = above.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(exact.sameElements(grid))
  }

  test("q158 ACF pairs via keyed joins on the reduced hourly table") {
    val plan = graft.queries.Registry
      .queries("q158_autocorrelation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"lag pairing must be an equi-join on (series, hour+k):\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected the hourly reduction aggregate:\n$plan")
  }

  test("q159 LM scoring never pairs documents with documents") {
    val plan = graft.queries.Registry
      .queries("q159_bigram_lm_score")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"model joins must be keyed on the bigram/context:\n$plan")
  }

  test("q160 sweep uses a ROWS frame, not the default RANGE") {
    val plan = graft.queries.Registry
      .queries("q160_peak_concurrency")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RowFrame"),
      s"running sum must accumulate one row at a time (ties!):\n$plan")
    assert(plan.contains("windowspecdefinition(event_type"),
      s"sweep must stay partitioned per series:\n$plan")
  }

  test("q161 rank window runs over the reduced key-frequency table") {
    val plan = graft.queries.Registry
      .queries("q161_key_skew_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(event_type"),
      s"rank window must be partitioned per series:\n$plan")
    assert(!plan.contains("Join"),
      s"profiler is aggregate-only, no join:\n$plan")
  }

  test("nearDupPairsAuto dispatch flips from exact to LSH+verify at " +
      "the threshold, and agrees where LSH recall is total") {
    // clusters of IDENTICAL docs (J=1.0 → every band collides →
    // recall 1) plus unrelated singletons: the two branches must
    // return the same verified pair set
    val docs = Seq.tabulate(30) { i =>
      val cluster = i % 10
      val text =
        if (cluster < 5) s"alpha bravo charlie delta echo foxtrot c$cluster x y z"
        else s"unique words only for doc $i " +
          s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    def run(threshold: Long) = graft.operators.Dedup.nearDupPairsAuto(
      docs, 3, minJaccard = 0.5, exactThreshold = threshold)
    val exact = run(1000L)
    val lsh = run(0L)
    // the LSH branch joins band keys — that column never appears in
    // the exact inverted-index plan
    assert(lsh.queryExecution.analyzed.toString.contains("bkey"),
      "above-threshold dispatch must take the LSH candidate path")
    assert(!exact.queryExecution.analyzed.toString.contains("bkey"),
      "below-threshold dispatch must take the exact path")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val e = norm(exact)
    assert(e.nonEmpty, "fixture must actually produce near-dup pairs")
    assert(norm(lsh) == e)
  }

  test("nearDupPairsAuto's dispatch gate never scans the corpus: the " +
      "take-probe reads one partition, not all (r15 verdict #5)") {
    // 10k rows across 16 partitions: the old docs.count() gate ran a
    // 16-task scan + merge; the bounded probe must answer "more than
    // 100 rows?" from partition 0 alone (executeTake's incremental
    // partition evaluation)
    val docs = spark.range(10000)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("a b c d"), col("id")).as("text"))
      .repartition(16)
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
    }
    docs.count() // materialize the shuffle before listening
    spark.sparkContext.addSparkListener(l)
    try {
      assert(graft.operators.Dedup.exceedsRows(docs, 100L))
      assert(!graft.operators.Dedup.exceedsRows(docs, 100000L))
      // listener bus is async: poll until the probe jobs are counted
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      // over-threshold probe: 1 job, 1 task (partition 0 had 101+
      // rows). Under-threshold probe must still read everything to be
      // SURE (incremental 1 -> 4x scale-ups over 16 partitions adds
      // ~21); a full count would add 17 per call on top.
      assert(jobs.get() <= 4, s"dispatch ran ${jobs.get()} jobs")
      assert(tasks.get() <= 26,
        s"dispatch gate scanned ${tasks.get()} tasks — not bounded")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("exceedsRows: exact plan cardinality answers job-free, never a " +
      "CBO estimate; thresholds beyond Int range stay correct with " +
      "O(1) driver memory (r16 ADVICE)") {
    import graft.sources.ParquetStats
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // a Range's cardinality is statically exact: a 5-billion-row
      // frame vs a beyond-Int threshold answers true without any job
      // (the old probe clamped the threshold at ~2^31 and would have
      // materialized up to 2^31 rows on the driver)
      val big = spark.range(5000000000L).toDF("id")
      assert(ParquetStats.exceedsRows(big, Int.MaxValue.toLong + 5L))
      assert(!ParquetStats.exceedsRows(big, 5000000000L))
      // local frames are exact too — including under row-preserving
      // wrappers the optimizer leaves in place
      val local = Seq(1, 2, 3).toDF("v")
      assert(ParquetStats.exceedsRows(local, 2L))
      assert(!ParquetStats.exceedsRows(local.select(col("v")), 3L))
      Thread.sleep(200) // listener bus is async
      assert(jobs.get() == 0,
        s"exact-cardinality path ran ${jobs.get()} jobs — must be 0")
    } finally spark.sparkContext.removeSparkListener(l)
    // a cardinality-CHANGING node over an exact source must fall
    // through to the probe, not trust any estimate: filter flips the
    // answer and the probe must reflect the filtered rows
    val filtered = spark.range(1000).toDF("id").filter(col("id") < 3)
    assert(!ParquetStats.exceedsRows(filtered, 5L))
    assert(ParquetStats.exceedsRows(filtered, 2L))
    // beyond-Int threshold against a real scan: counts to completion
    // (false), with per-task capped Longs on the driver — not
    // take(2^31) row materialization
    val docs = Tables.load(spark, sf, "documents")
    assert(!ParquetStats.exceedsRows(docs, Long.MaxValue - 1L))
    assert(ParquetStats.exceedsRows(docs, 1L))
  }

  test("footer row count: exact on a parquet-backed table, refused on " +
      "cardinality-changing plans and in-memory frames") {
    val docs = Tables.load(spark, sf, "documents")
    val n = graft.sources.ParquetStats.footerRowCount(spark, docs)
    assert(n.contains(docs.count()), s"footer count $n != count")
    // projections keep the footer answer valid; filters must refuse
    assert(graft.sources.ParquetStats
      .footerRowCount(spark, docs.select("doc_id")).isDefined)
    assert(graft.sources.ParquetStats
      .footerRowCount(spark, docs.filter(col("doc_id") > 10)).isEmpty)
    assert(graft.sources.ParquetStats
      .footerRowCount(spark, Seq((1L, "x")).toDF("a", "b")).isEmpty)
    // the guard is a WHITELIST: row-multiplying nodes a blacklist
    // could forget (Expand from rollup, Union doubling the scan) must
    // refuse, as must arbitrary unknown nodes
    assert(graft.sources.ParquetStats.footerRowCount(spark,
      docs.rollup("lang").count()).isEmpty, "rollup/Expand must refuse")
    assert(graft.sources.ParquetStats.footerRowCount(spark,
      docs.union(docs)).isEmpty, "self-union must refuse")
    assert(graft.sources.ParquetStats.footerRowCount(spark,
      docs.limit(3)).isEmpty, "limit must refuse")
  }

  test("LSH band math: measured candidate recall matches the " +
      "1-(1-J^r)^b formula the dispatch logs (r15 verdict #7)") {
    // 300 planted pairs at TRUE jaccard exactly 0.5: docs (2i, 2i+1)
    // share 16 of their 24 shingle ids (|∩|=16, |∪|=32). Shingle ids
    // are disjoint across pairs, so no cross-pair candidates pollute
    // the measurement. With 8 hashes / 4 bands (r=2):
    // p = 1-(1-0.5^2)^4 = 0.6836; minhash is deterministic (fixed
    // seeds), so the measured rate is a fixed number — the assertion
    // pins formula to measurement within the binomial 3-sigma band
    // (sqrt(p(1-p)/300) ~ 0.027).
    val nPairs = 300
    val sh = (0 until nPairs).flatMap { p =>
      val base = p.toLong * 100
      val shared = (0 until 16).map(j => (2L * p, base + j)) ++
        (0 until 16).map(j => (2L * p + 1, base + j))
      val ua = (16 until 24).map(j => (2L * p, base + j))
      val ub = (24 until 32).map(j => (2L * p + 1, base + j))
      shared ++ ua ++ ub
    }.toDF("doc_id", "shingle")
    val cand = graft.operators.Dedup
      .minHashLshOnShingles(sh, numHashes = 8, bands = 4)
      .filter(col("doc_b") === col("doc_a") + 1 &&
        col("doc_a") % 2 === 0)
      .count()
    val measured = cand.toDouble / nPairs
    val r = 8 / 4
    val formula = 1 - math.pow(1 - math.pow(0.5, r), 4)
    assert(math.abs(measured - formula) < 0.09,
      f"measured recall $measured%.3f vs band-math $formula%.3f")
  }

  test("annTopK dispatch flips from brute force to IVF at the threshold") {
    val emb = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") < 40)
    val queries = emb.filter(col("vec_id") < 5)
    val cents = emb.filter(col("vec_id") < 8)
    def run(threshold: Long) = graft.operators.Similarity
      .annTopK(queries, emb, k = 3, cents, nProbe = 8,
        broadcastThreshold = threshold)
    val brute = run(1000L)
    val ivf = run(10L)
    // the IVF branch joins probes to assignments on the cell id —
    // that equi-join never appears in the brute plan
    assert(ivf.queryExecution.executedPlan.toString.contains("cid"),
      "above-threshold dispatch must take the cell-probe path")
    assert(!brute.queryExecution.executedPlan.toString.contains("cid"),
      "below-threshold dispatch must take the brute-force path")
    // nProbe covers every cell -> the index is exhaustive: both
    // branches must agree exactly
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(norm(brute) == norm(ivf))
  }

  test("q165 contamination matrix has no self-join") {
    val plan = graft.queries.Registry
      .queries("q165_split_contamination")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"cross-split pairs must come from per-fp counts, not a join:\n$plan")
  }

  test("q175 power-curve lookup is a broadcast EQUI-join, not a range scan") {
    val plan = graft.queries.Registry
      .queries("q175_power_curve")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast hash join on the wind bin:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"integer-bin design must avoid the nested-loop range join:\n$plan")
  }

  test("q194 clean-text is a pure map: zero exchanges before the order") {
    val plan = graft.queries.Registry
      .queries("q194_clean_text")(spark, sf)
      .queryExecution.executedPlan.toString
    // only the final presentation ORDER BY may exchange (range part.)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"normalization must not shuffle:\n$plan")
  }

  test("q190 best-copy keeper is an aggregate + join, never a window") {
    val plan = graft.queries.Registry
      .queries("q190_best_copy_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"keeper selection must not buffer clusters in a window:\n$plan")
  }

  test("q189 fixed sample plans as TakeOrdered, not a global sort") {
    val plan = graft.queries.Registry
      .queries("q189_fixed_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY hash LIMIT n must keep per-partition top-n:\n$plan")
  }

  test("q187 ramp rates: windows only, no join") {
    val plan = graft.queries.Registry
      .queries("q187_ramp_rates")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"ramps must not self-join:\n$plan")
  }

  test("q213/q214 codec decodes are pure maps: payloads never shuffle") {
    for (q <- Seq("q213_jpeg_decode", "q214_mulaw_audio",
        "q217_flac_audio", "q219_mp3_audio", "q220_video_frames",
        "q223_av_sync", "q227_image_resize", "q231_audio_resample",
        "q234_edge_histogram", "q246_image_flip_crop",
        "q247_audio_gain_clip")) {
      val plan = graft.queries.Registry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      // encode + decode ride mapPartitions; the only exchange allowed
      // is the presentation ORDER BY (range partitioning)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q must not shuffle payloads:\n$plan")
      assert(!plan.contains("Join"), s"$q needs no join:\n$plan")
    }
  }

  test("q221 video dedup shuffles fingerprints, never payloads") {
    val qe = graft.queries.Registry.queries("q221_video_dedup")(spark, sf)
      .queryExecution
    val plan = qe.executedPlan.toString
    // exactly one keyed exchange (the cluster window) + the
    // presentation sort; the payload/binary column must be projected
    // away BEFORE any exchange — the fingerprint rows are all that
    // shuffles
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"q221 wants exactly the cluster-window exchange:\n$plan")
    assert(!plan.contains("Join"), s"q221 needs no join:\n$plan")
    // structural, not textual: no exchange may carry a binary column —
    // payloads are projected away before the shuffle boundary
    val shuffled = qe.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.filter(_.dataType ==
          org.apache.spark.sql.types.BinaryType).map(_.name)
    }.flatten
    assert(shuffled.isEmpty,
      s"binary columns crossed a shuffle: $shuffled")
  }

  test("q218 KS drift: grid joins broadcast, no unkeyed product") {
    val plan = graft.queries.Registry
      .queries("q218_ks_drift")(spark, sf)
      .queryExecution.executedPlan.toString
    // the sources × lengths grid and the 1-row total ride broadcast
    // joins of dimension-sized inputs; a CartesianProduct would mean
    // the corpus itself got self-paired
    assert(!plan.contains("CartesianProduct"),
      s"KS grid must broadcast, never cartesian:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected the corpus-reducing first aggregate:\n$plan")
  }

  test("q215 chunking is a pure map: no hash exchange before the order") {
    val plan = graft.queries.Registry
      .queries("q215_chunk_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    // only the presentation ORDER BY may exchange (range partitioning)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunk explode must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"chunking needs no join:\n$plan")
  }

  test("q216 mix weights ride a 1-row broadcast, never a shuffled join") {
    val plan = graft.queries.Registry
      .queries("q216_temperature_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"the |sources|×1 total join must broadcast:\n$plan")
  }

  test("q174 dup-spans never pairs the corpus with itself") {
    val plan = graft.queries.Registry
      .queries("q174_dup_spans")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"gram membership must ride a keyed semi-join, never a pairwise scan:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"expected a semi-join against the repeated-gram set:\n$plan")
  }

  test("q188 vocab ranking is limit-pruned — the rk<=20 filter never " +
      "sorts the full vocabulary through one reducer") {
    // the rank window is deliberately unpartitioned (a global top-20);
    // what makes that safe at 100 TB is the engine's rank-limit
    // rewrite: either WindowGroupLimit (per-partition top-k before
    // the window sort) or — what this build actually plans — a
    // TakeOrderedAndProject(limit=20) BELOW the row_number window, so
    // every map partition keeps its own top 20 and the window runs
    // over 20 rows, never |vocab|. This pins that one of the two
    // bounded forms actually fires.
    val plan = graft.queries.Registry
      .queries("q188_vocab_coverage")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") ||
      plan.contains("TakeOrderedAndProject(limit=20"),
      s"rank-limit pushdown did not engage:\n$plan")
  }

  test("q235 DBSCAN: cell equi-joins only — no pairwise scan anywhere") {
    val plan = graft.queries.Registry.queries("q235_dbscan")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"DBSCAN candidate generation must stay on the cell grid:\n$plan")
  }

  test("q229 DSIR: the occurrence frame is cached once, scoring rides " +
      "broadcasts") {
    val df = graft.queries.Registry
      .queries("q229_dsir_selection")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the count table and totals reach scoring as broadcasts, never a
    // shuffled join of the (corpus-sized) occurrence frame with itself
    assert(plan.contains("InMemoryTableScan"),
      s"occ diamond must be served from cache:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bucket counts must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no product:\n$plan")
  }

  test("q230 JL projection: one hash aggregate computes every " +
      "coordinate — no per-dimension join, no row blowup") {
    val plan = graft.queries.Registry
      .queries("q230_jl_projection")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1,
      s"expected exactly the one aggregate exchange, got $hashEx:\n$plan")
    assert(!plan.contains("Join"),
      s"sign lookup must be a literal array, not a join:\n$plan")
  }

  test("q256 probe scoring is map-side only — the model rides as " +
      "literals, no hash exchange anywhere before the output sort") {
    val plan = graft.queries.Registry
      .queries("q256_quality_classifier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"probe scoring must not shuffle (iterations aggregate to the " +
        s"driver; scoring is row-local):\n$plan")
    assert(!plan.contains("Join"),
      s"the model must enter as literals, never a join:\n$plan")
  }

  test("q259 uncertainty sampling runs on the bounded top-k " +
      "aggregate, never a rank window over full groups") {
    val plan = graft.queries.Registry
      .queries("q259_uncertainty_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the TopKAggregate object hash aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"per-source selection must not sort full groups through a " +
        s"window:\n$plan")
  }

  test("q298/q299 text passes are pure maps: zero hash exchanges") {
    Seq("q298_mojibake_repair", "q299_script_mix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle before the presentation order:\n$p")
    }
  }

  test("q301 HRW census: row-local argmax, no hash exchange, no join") {
    val p = plan("q301_rendezvous_shards")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the greatest-chain argmax must stay row-local:\n$p")
    assert(!p.contains("Join"), s"no join anywhere:\n$p")
  }

  test("q296 silhouette adds at most the per-cluster aggregate " +
      "beyond the k-means fit itself") {
    val fitEx = "Exchange hashpartitioning".r
      .findAllIn(plan("q75_kmeans")).length
    val silEx = "Exchange hashpartitioning".r
      .findAllIn(plan("q296_silhouette")).length
    assert(silEx <= fitEx + 1,
      s"silhouette exchanges $silEx vs fit $fitEx — the top-2 " +
        "projection must not add shuffles beyond the tiny cluster agg")
  }

  test("q304 reach propagation: keyed equi-joins only; the only BNLJ " +
      "is the documented q27 exact-pairs edge kernel") {
    val p = plan("q304_reach_sketch")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the edge list comes from cosinePairsAbove — the q27 exact
    // all-pairs BASELINE with the fused kernel prune (at corpus scale
    // you build edges with the q56 LSH variant instead); every BNLJ
    // in this plan must be that kernel, never the register
    // propagation, whose joins are keyed on the edge endpoint
    val bnljLines = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnljLines.forall(_.contains("cosinesimilarity")),
      s"a BNLJ outside the edge kernel:\n${bnljLines.mkString("\n")}")
  }

  test("q305 PQ recall: the query set broadcasts; no cartesian") {
    val p = plan("q305_pq_recall")
    assert(p.contains("BroadcastExchange"),
      s"the 10-query set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q303 VAD: per-media window, no join in the segmentation") {
    val p = plan("q303_audio_vad")
    assert(p.contains("Window"), s"islands need the frame window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"segmentation is window + aggregate, never a join:\n$p")
  }
}
