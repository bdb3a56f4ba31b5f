package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {

  private def landing(): String =
    Files.createTempDirectory("stream-landing").toString

  test("q170 writes the events landing in the layout its dir tag names") {
    // the events landing is shared by q170 and every events twin, so
    // whichever query lands it first fixes the layout all of them read;
    // a fresh copy of the events table keys a fresh landing dir, so
    // q170 is the writer here
    val dir = Files.createTempDirectory("q170-landing-src")
    Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
      dir.resolve("events.parquet"))
    val landing = graft.queries.StreamQueries.eventsLandingDir(dir.toString)
    try {
      assert(!landing.exists())
      graft.queries.Registry.queries("q170_stream_continuous_aggregate")(
        spark, dir.toString).collect()
      val tagged = "-p(\\d+)$".r.findFirstMatchIn(landing.getName)
        .getOrElse(fail(s"untagged landing dir $landing")).group(1).toInt
      val files = landing.listFiles()
        .count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      assert(files == tagged,
        s"$landing holds $files data files, its tag names $tagged")
    } finally Seq(landing, dir.toFile)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  test("multi-file landing zone drains as ONE batch under AvailableNow") {
    // Pins the round-20 landing fan-out contract: with no
    // maxFilesPerTrigger, an AvailableNow drain takes EVERY available
    // file in a single micro-batch — so fanning the landing zone out
    // to k files parallelizes each batch's scan without changing any
    // twin's batch count (the q79 dedup-state and Update-mode
    // one-emission-per-key parity arguments all rest on this).
    val dir = landing()
    val ev = Tables.load(spark, sf, "events")
    ev.repartition(8).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 8, s"expected 8 landing files, got $files")
    val stream = StreamOps.landingZone(spark, dir, ev.schema)
    val q = stream.writeStream.format("memory").queryName("onebatch")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 1,
      s"multi-file landing drained in $batches batches, expected 1")
    assert(spark.table("onebatch").count() == ev.count())
  }

  test("landing-zone stream + bucketed agg matches the batch result") {
    val dir = landing()
    val ev = Tables.load(spark, sf, "events")
    ev.write.mode("overwrite").parquet(dir)
    val stream = StreamOps.landingZone(spark, dir, ev.schema)
    val agg = StreamOps.bucketedAgg(stream, "ts", "1 hour", "1 day",
      Seq("event_type"))
    StreamOps.drainToMemory(agg, "bucketed", OutputMode.Append())
    // append mode only emits windows below the final watermark; check
    // emitted rows agree with the batch computation
    val got = spark.table("bucketed")
    val batch = ev
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total"))
    val joined = got.alias("g").join(batch.alias("b"),
      Seq("bucket_start", "event_type"))
    assert(got.count() > 0)
    assert(joined.filter(col("g.n") =!= col("b.n")).count() == 0)
  }

  test("dedupRevisions drops re-crawled duplicate keys") {
    val dir = landing()
    val ev = Tables.load(spark, sf, "events").limit(200)
    // land the same batch twice (a re-crawl)
    ev.write.mode("append").parquet(dir)
    ev.write.mode("append").parquet(dir)
    val stream = StreamOps.landingZone(spark, dir, ev.schema)
    val dedup = StreamOps.dedupRevisions(stream, "ts", "7 days",
      Seq("event_id"))
    StreamOps.drainToMemory(dedup, "deduped", OutputMode.Append())
    assert(spark.table("deduped").count() == 200)
  }

  test("runningWatermark maintains per-key max/count state") {
    val dir = landing()
    val ev = Tables.load(spark, sf, "events")
    ev.write.mode("overwrite").parquet(dir)
    val out = StreamOps.runningWatermark(spark,
      StreamOps.landingZone(spark, dir, ev.schema))
    StreamOps.drainToMemory(out, "wmstate", OutputMode.Update())
    val got = spark.table("wmstate")
      .groupBy("user_id").agg(max("max_ts_s").as("max_ts_s"))
    val want = ev.selectExpr("user_id", "CAST(ts AS LONG) AS ts_s")
      .groupBy("user_id").agg(max("ts_s").as("want_ts"))
    val bad = got.join(want, Seq("user_id"))
      .filter(col("max_ts_s") =!= col("want_ts"))
    assert(bad.count() == 0)
  }

  test("sessionizeStream: gap closes emit in-batch, timeout releases tail") {
    import spark.implicits._
    val dir = landing()
    // user 1: two sessions split by a >30min gap; the second session's
    // last event sits >1h+gap before the stream max, so its timeout
    // fires. user 2: one session ending AT the stream max -> its
    // deadline is above the final watermark -> held in state, NOT
    // emitted. A third user (99) supplies the max event time.
    def t(min: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(min * 60))
    val rows = Seq(
      (1L, t(0), 10L, 1.25),   // s1
      (1L, t(10), 11L, 2.50),  // s1 (10min gap)
      (1L, t(50), 12L, 4.00),  // s2 (40min gap)
      (2L, t(600), 20L, 8.00), // held: deadline past final watermark
      (99L, t(630), 90L, 0.5)) // max event time anchor
      .toDF("user_id", "ts", "event_id", "value")
    rows.write.mode("overwrite").parquet(dir)
    val out = StreamOps.sessionizeStream(spark,
      StreamOps.landingZone(spark, dir, rows.schema),
      gapSeconds = 1800, delay = "1 hour")
    StreamOps.drainToMemory(out, "sess_sink", OutputMode.Append())
    val got = spark.table("sess_sink")
      .select("user_id", "session_id", "n_events", "session_value")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // watermark = t(630) - 60min = t(570).
    // user1 s1 closed by the 40-min gap (in-batch emit), s2 deadline
    // t(50)+30min = t(80) < t(570) -> timeout emit. user2 deadline
    // t(600)+30 = t(630) >= t(570)? 630 > 570 -> NOT emitted.
    assert(got == Set((1L, 1L, 2L, 3.75), (1L, 2L, 1L, 4.00)))
    // user 99's own session also stays open: deadline t(660) > wm
    assert(!got.exists(_._1 == 2L) && !got.exists(_._1 == 99L))
  }

  test("sessionizeStream: session_id survives timeout + reactivation") {
    import spark.implicits._
    val dir = landing()
    def t(min: Long) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(min * 60))
    def land(name: String, mtime: Long,
        rows: Seq[(Long, java.sql.Timestamp, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("sess-stage").toString
      rows.toDF("user_id", "ts", "event_id", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    // batch 1: user 1's session + an anchor pushing the watermark past
    // user 1's deadline. batch 2 (separate file, one file per trigger):
    // the pending timeout fires, THEN user 1 reactivates — without the
    // counter tombstone the new session would repeat session_id 1.
    land("f1.parquet", 1000000L, Seq(
      (1L, t(0), 10L, 1.0),
      (99L, t(180), 90L, 0.5)))
    land("f2.parquet", 2000000L, Seq(
      (1L, t(240), 11L, 2.0),
      (99L, t(600), 91L, 0.5)))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = StreamOps.sessionizeStream(spark, stream,
      gapSeconds = 1800, delay = "1 hour")
    spark.catalog.dropTempView("sess_react")
    StreamOps.drainToMemory(out, "sess_react", OutputMode.Append())
    val got = spark.table("sess_react")
      .filter(col("user_id") === 1L)
      .select("session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // session 1 emitted via timeout after batch 1's watermark (t(180)
    // − 1h = t(120) > deadline t(30)); session 2 emitted via timeout
    // after batch 2's watermark (t(600) − 1h = t(540) > t(270))
    assert(got == Set((1L, 1L), (2L, 1L)),
      s"expected distinct session ids across reactivation, got $got")
  }

  test("kmv sketch final state is invariant to micro-batch chunking") {
    val ev = Tables.load(spark, sf, "events")
      .selectExpr("event_type AS grp",
        "(user_id * 2654435761) % 4294967296 AS h")
    val expected = ev.distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")
          .orderBy("h")))
      .filter(col("rn") <= 8)
      .groupBy("grp").agg(sort_array(collect_list("h")).as("mins"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    val dir = landing()
    ev.repartition(5).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val out = graft.streaming.StreamOps.kmvSketchStream(spark, stream, 8)
    spark.catalog.dropTempView("kmv_chunked")
    graft.streaming.StreamOps.drainToMemory(out, "kmv_chunked",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // several emissions per key (one per batch that touched it); the
    // LAST one per key is the final state
    val got = spark.table("kmv_chunked")
      .withColumn("emit_rn", monotonically_increasing_id())
      .groupBy("grp").agg(max_by(col("mins"), col("emit_rn")).as("mins"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    assert(got == expected)
  }

  test("mergeLatestSink state is invariant to micro-batch chunking") {
    val ev = Tables.load(spark, sf, "events")
      .select("user_id", "ts", "event_id", "value")
    val expected = ev
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("user_id").collect().toSeq
    for (files <- Seq(1, 5)) {
      val dir = landing()
      ev.repartition(files).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val base = Files.createTempDirectory(s"merge-sink-$files")
      StreamOps.mergeLatestSink(spark, stream,
        base.resolve("state").toString, base.resolve("ckpt").toString)
      val got = spark.read.parquet(base.resolve("state").toString)
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id").collect().toSeq
      assert(got == expected, s"chunking into $files files diverged")
    }
  }

  test("interval-join state stays bounded by the watermark horizon under key skew") {
    // Skewed fixture: one hot user emits 10 clicks + 10 purchases per
    // hour for 240 hours (plus two cold users at 1 click/hour), landed
    // as 12 strictly chronological files. With maxFilesPerTrigger=1
    // the AvailableNow drain runs 12 micro-batches, so the watermark
    // advances ~20 h per batch and the symmetric-hash-join state MUST
    // evict between batches. The retention horizon is tolerance-shaped,
    // not corpus-shaped: a click survives until its join-window end
    // (click_ts + 1 h interval) passes the watermark (max − 1 h delay),
    // a purchase until purchase_ts passes it — i.e. ≤ ~2–3 h of rows
    // per side regardless of stream length, and crucially independent
    // of how hot the key is. The mirror of the batch skew caps: a hot
    // key inflates the horizon population, never the whole history.
    import spark.implicits._
    val base0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def at(h: Int, m: Int, sec: Int = 0): java.sql.Timestamp =
      java.sql.Timestamp.from(base0.plusSeconds(h * 3600L + m * 60L + sec))
    val hours = 240
    val rows = (0 until hours).flatMap { h =>
      val hot = (0 until 10).flatMap { i =>
        Seq((1L, at(h, 6 * i), s"c-$h-$i", "click", 1.0),
            (1L, at(h, 6 * i, 30), s"p-$h-$i", "purchase", 2.0))
      }
      val cold = Seq((100L + h % 2, at(h, 30), s"k-$h", "click", 1.0))
      hot ++ cold
    }
    val total = rows.size
    val dir = landing()
    val files = 12
    val perFile = hours / files
    val stage = Files.createTempDirectory("ij-stage")
    for (f <- 0 until files) {
      val slice = rows.filter { r =>
        val h = (r._2.getTime - base0.toEpochMilli) / 3600000L
        h >= f * perFile && h < (f + 1) * perFile
      }
      val sliceDir = stage.resolve(s"s$f")
      slice.toDF("user_id", "ts", "event_id", "event_type", "value")
        .coalesce(1).write.parquet(sliceDir.toString)
      val part = java.nio.file.Files.list(sliceDir).iterator()
      var moved = false
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(dir, f"f$f%02d.parquet")
          java.nio.file.Files.move(p, dst)
          // explicit mtimes: the file source orders batches by
          // modification time, and sub-ms writes would tie
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              1700000000000L + f * 60000L))
          moved = true
        }
      }
      assert(moved, s"no parquet part written for slice $f")
    }
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val buys = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    spark.catalog.dropTempView("ij_skew_sink")
    val stateCounts = StreamOps.withStatePartitions(spark, 4) {
      StreamOps.drainToMemoryWithStateCounts(joined, "ij_skew_sink")
    }
    assert(stateCounts.size >= files - 1,
      s"expected ~$files micro-batches, saw ${stateCounts.size}")
    // Correctness across chunk boundaries: every within-1h pair must
    // have matched even when click and purchase landed in different
    // batches (the click is retained exactly until its window closes).
    val batchPairs = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
      .as("c").filter(col("c.event_type") === "click")
      .join(rows.toDF("user_id", "ts", "event_id", "event_type", "value")
        .as("p").filter(col("p.event_type") === "purchase"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts") >= col("c.ts") &&
          col("p.ts") <= col("c.ts") + expr("INTERVAL 1 HOUR"))
      .count()
    assert(spark.table("ij_skew_sink").count() == batchPairs)
    // The bound: per in-horizon hour the fixture lands 21 rows of
    // click state and 10 of purchase state. Eviction keys off the
    // PREVIOUS batch's watermark and a batch spans 20 h, so the
    // retained span is ≤ horizon (3 h) + one batch span (20 h) + the
    // delay (1 h) ≈ 24 h ≈ 750 rows — far below the 5-day history.
    // Assert a slacked version of that, and the sharper relative
    // property: max state is a small fraction of the stream's total.
    val maxState = stateCounts.max
    assert(maxState > 0)
    assert(maxState <= 1200, s"state rows $maxState exceed the horizon bound")
    assert(maxState.toDouble / total <= 0.25,
      s"state $maxState vs $total rows — eviction not keeping up with skew")
    // and the final batch holds only the last horizon's rows
    assert(stateCounts.last <= 1200)
  }

  test("mergeLatestSink recovers state left at .old by a crash") {
    val ev = Tables.load(spark, sf, "events")
      .select("user_id", "ts", "event_id", "value")
    val dir = landing()
    ev.write.mode("overwrite").parquet(dir)
    val base = Files.createTempDirectory("merge-sink-crash")
    val state = base.resolve("state").toString
    // run once to build real state
    val s1 = spark.readStream.schema(ev.schema).parquet(dir)
    StreamOps.mergeLatestSink(spark, s1, state, base.resolve("c1").toString)
    val before = spark.read.parquet(state)
      .orderBy("user_id").collect().toSeq
    // simulate a crash between the two swap renames: the state sits at
    // .old, the live path is missing, and a half-written staging dir
    // (no _SUCCESS) lingers
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + ".old"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(state + ".staging"))
    // drain a fresh empty-delta stream (new checkpoint, same landing):
    // recovery must restore .old before reading, so the rebuilt state
    // still carries every key, not just the replayed batch's
    val s2 = spark.readStream.schema(ev.schema).parquet(dir)
    StreamOps.mergeLatestSink(spark, s2, state, base.resolve("c2").toString)
    val after = spark.read.parquet(state)
      .orderBy("user_id").collect().toSeq
    assert(after == before, "crash recovery lost state rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + ".old")),
      "recovered .old must be cleaned up after the next swap")
  }
}
