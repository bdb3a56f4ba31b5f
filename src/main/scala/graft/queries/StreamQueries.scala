package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables
import graft.functions.ExactAgg
import graft.streaming.StreamOps

/** Structured-Streaming operators surfaced as batch-checkable queries:
  * the pipeline runs as a real streaming query (file source → event-time
  * watermark → windowed aggregation → append-mode sink) drained with
  * `Trigger.AvailableNow`, and the emitted result is compared against a
  * pure-SQL oracle. Append mode emits exactly the windows whose end is
  * at or below the final watermark (max event time − delay), which is a
  * deterministic function of the data — so even watermark semantics are
  * hash-checked, not just spec-asserted.
  */
object StreamQueries {

  /** Land the events table into a fixed temp dir and open it as a file
    * stream. The file stream source consumes a directory — exactly the
    * crawler-drops-files-in shape StreamOps.landingZone models. One
    * FIXED landing dir per dataset STATE, written only when absent:
    * repeated invocations (bench runs each query twice) reuse it
    * instead of growing /tmp by a full events copy per run. Keyed by
    * the sanitized full source path PLUS a content fingerprint (file
    * count + max mtime + total bytes of the source parquet) so a
    * dataset regenerated in place lands fresh instead of silently
    * reusing a stale copy, and two distinct dirs can never collide
    * into one landing zone. */
  /** Sanitized source path + content fingerprint (file count, max
    * mtime, total bytes) of the STREAMED table's parquet: the key
    * under which a dataset STATE gets its landing/state/checkpoint
    * dirs — a dataset regenerated in place keys fresh instead of
    * reusing stale copies, two distinct dirs can never collide, and
    * the fingerprint covers the table the stream actually reads
    * (documents/embeddings twins were keyed off events.parquet
    * before, silently reusing stale copies on in-place regens). */
  private def datasetKey(dir: String, table: String = "events")
      : String = {
    val srcFiles = Option(
      new java.io.File(dir, s"$table.parquet").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isFile)
    val fingerprint =
      s"${srcFiles.length}-${srcFiles.map(_.lastModified).foldLeft(0L)(math.max)}-${srcFiles.map(_.length).sum}"
    val sanitized = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$sanitized-$fingerprint"
  }

  /** Landing-zone fan-out (round 20): a twin whose per-batch map work
    * is row-local-HEAVY reads a landing of `cap` parquet files instead
    * of one, so the micro-batch's scan (and the map pipeline on it)
    * runs `cap`-wide instead of as ONE task — the streaming form of
    * the ScanSpread serial-scan repair (guide §2.5/§6). Batch COUNTS
    * are unchanged: every consumer drains with `Trigger.AvailableNow`
    * and no per-trigger file limit, which takes ALL available files in
    * a single micro-batch (pinned by StreamingSpec "multi-file landing
    * zone drains as ONE batch"), so the single-batch parity arguments
    * (q79's dedup state, the Update-mode sinks' one-emission-per-key)
    * are untouched by the layout.
    *
    * Measured same-JVM (round 20, OPTIMIZATION_r20.md, sf0.1/local[32],
    * median of 3): the fan pays ONLY where the per-doc work is heavy —
    * q282 docGrams 0.89×, q236 Dsir occurrences 0.90× — and LOSES a
    * fixed ~0.1–0.2 s per drain everywhere else (q258 1.28×, q323
    * 1.21×, q302 1.13×, q314 1.11×, q290 1.37×, q112 1.37×, q63 1.08×,
    * q73 1.05×; fan=4 loses the same as fan=16, so the cost is
    * per-batch multi-task overhead, not task count). The same decision
    * rule as ScanSpread's call sites: fan out the heavy funnels, never
    * as a blanket layout.
    * Events twins therefore stay single-file (cap = 1 below). */
  private def landingFanOut(s: org.apache.spark.sql.SparkSession,
      cap: Int): Int =
    math.max(1, math.min(cap, s.sparkContext.defaultParallelism))

  /** `df` written into `landingDir` as `n` parquet files, unless a
    * completed copy (`_SUCCESS`) is already there; returns the path. */
  private def landOnce(df: org.apache.spark.sql.DataFrame,
      landingDir: java.io.File, n: Int): String = {
    if (!new java.io.File(landingDir, "_SUCCESS").exists()) {
      val w = if (n == 1) df.coalesce(1) else df.repartition(n)
      w.write.mode("overwrite").parquet(landingDir.toString)
    }
    landingDir.toString
  }

  /** Shared events landing dir (also read by q170): name carries the
    * layout tag so a relayout can never silently reuse a stale copy.
    * Single-file (measured: every events twin is state/lifecycle-bound,
    * the fan only added per-batch task overhead). Every writer of this
    * dir writes the tagged layout, so the layout never depends on
    * which query lands it first. */
  private[graft] def eventsLandingDir(dir: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-q53-landing-${datasetKey(dir)}-p1")

  private def eventsLanding(dir: String,
      ev: org.apache.spark.sql.DataFrame): String =
    landOnce(ev, eventsLandingDir(dir), 1)

  private def eventsStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.load(s, dir, "events")
    StreamOps.landingZone(s, eventsLanding(dir, ev), ev.schema)
  }

  val qs: Seq[Q] = Seq(

    // A2/I5 streaming twin of q1: daily windowed aggregate over the
    // events stream with a 1-hour watermark, append-mode emission.
    Q("q53_stream_bucket_agg",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val agg = stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            ExactAgg.dsum(col("value")).as("total"))
          .select(col("window.start").as("bucket_start"),
            col("event_type"), col("n"), col("total"))
        // re-runnable in one session (bench runs every query twice)
        s.catalog.dropTempView("q53_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(agg, "q53_sink", OutputMode.Append())
        }
        s.table("q53_sink").orderBy("bucket_start", "event_type")
      },
      Some(s"""WITH agg AS (
          SELECT date_trunc('day', ts) AS bucket_start, event_type,
            count(*) AS n, ${ExactAgg.sqlSum("value")} AS total
          FROM events GROUP BY 1, 2),
        wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT bucket_start, event_type, n, total FROM agg, wm
        WHERE bucket_start + INTERVAL 1 DAY <= w
        ORDER BY bucket_start, event_type""")),

    // W-custom-state streaming twin of q47: sessionization via
    // flatMapGroupsWithState + EVENT-TIME TIMEOUT. Sessions closed by
    // a following row emit in the data batch; each user's final open
    // session emits when the watermark passes last+gap (strict ms
    // comparison — mirrored in the oracle), so even the timeout rule
    // is hash-checked. The oracle is the batch sessionization minus
    // exactly the final-per-user sessions the watermark hasn't
    // released.
    Q("q63_stream_sessionize",
      (s, dir) => {
        val out = StreamOps.sessionizeStream(
          s, eventsStream(s, dir), gapSeconds = 1800, delay = "1 hour")
        s.catalog.dropTempView("q63_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(out, "q63_sink", OutputMode.Append())
        }
        s.table("q63_sink").orderBy("user_id", "session_id")
      },
      Some("""WITH flagged AS (
          SELECT user_id, ts, event_id, value,
            CASE WHEN lag(ts, 1) OVER w IS NULL
              OR CAST(floor(epoch(ts)) AS BIGINT)
                - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT user_id, ts, value,
            CAST(sum(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
          FROM flagged),
        agg AS (
          SELECT user_id, session_id, count(*) AS n_events,
            min(ts) AS session_start, max(ts) AS session_end,
            CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE)
              AS session_value
          FROM sessions GROUP BY 1, 2),
        wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS w FROM events),
        lastsess AS (
          SELECT user_id, max(session_id) AS last_id FROM agg GROUP BY 1)
        SELECT a.user_id, a.session_id, a.n_events, a.session_start,
          a.session_end, a.session_value
        FROM agg a JOIN lastsess l ON a.user_id = l.user_id, wm
        WHERE a.session_id < l.last_id
           OR epoch_ms(a.session_end) + 1800000 < wm.w
        ORDER BY a.user_id, a.session_id""")),

    // Stream-stream INTERVAL JOIN: clicks joined to same-user
    // purchases that land within the following hour, both sides
    // watermarked (1 h) so the symmetric-hash-join state is evictable
    // — the condition Spark needs to bound state at 100 TB/day; an
    // un-watermarked stream join buffers forever. Inner-join emission
    // is match-time, so the AvailableNow drain of a finite source
    // yields exactly the batch interval join — which is the oracle.
    Q("q73_stream_interval_join",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val buys = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"),
            col("value").as("purchase_value"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_id"), col("click_ts"),
            col("purchase_id"), col("purchase_ts"), col("purchase_value"))
        s.catalog.dropTempView("q73_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(joined, "q73_sink", OutputMode.Append())
        }
        s.table("q73_sink")
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
          p.event_id AS purchase_id, p.ts AS purchase_ts,
          p.value AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY c.user_id, click_id, purchase_id""")),

    // Streaming exact dedup with BOUNDED state: the within-watermark
    // variant expires each key's dedup state once the watermark passes
    // it — the only dedup that survives an unbounded stream. On the
    // single-batch finite drain no state expires, so the emission
    // equals batch DISTINCT, which is the oracle.
    Q("q79_stream_dedup",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val dedup = StreamOps.dedupRevisions(
            stream.select(col("user_id"), col("event_type"), col("ts")),
            "ts", "1 hour", Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"))
        s.catalog.dropTempView("q79_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(dedup, "q79_sink", OutputMode.Append())
        }
        s.table("q79_sink").orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    // Stream-STATIC join: the streaming fact joined to a batch
    // dimension table — Structured Streaming's third join machinery
    // (no state store at all: the static side broadcasts into every
    // micro-batch, so this is the one join that needs no watermark to
    // stay bounded). Inner emission is match-time, so the AvailableNow
    // drain equals the batch join — the oracle.
    Q("q112_stream_static_join",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val dim = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        val joined = stream.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("value"))
          .join(dim, "user_id")
        s.catalog.dropTempView("q112_sink")
        StreamOps.drainToMemory(joined, "q112_sink", OutputMode.Append())
        s.table("q112_sink").orderBy("event_id")
      },
      Some("""SELECT e.user_id, e.event_id, e.value, c.c_nationkey
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
        ORDER BY e.event_id""")),

    // K6 streaming twin — foreachBatch MERGE sink: the stream upserts
    // "latest row per user" into a parquet state table
    // (StreamOps.mergeLatestSink). Batch chunking is invisible because
    // per-batch reduce and state merge are the same arg-max, so the
    // final state table hash-matches the batch latest-per-key oracle;
    // the checkpoint makes a second invocation a zero-batch no-op that
    // leaves the state untouched (idempotent resume). State/checkpoint
    // dirs are keyed by source path + content fingerprint PLUS the
    // landing LAYOUT tag (the file-source checkpoint embeds landing
    // file paths, so a relayout must key a fresh checkpoint), like the
    // landing zone.
    Q("q121_stream_merge_sink",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-q121-${datasetKey(dir)}-p1")
        StreamOps.mergeLatestSink(s, stream,
          new java.io.File(base, "state").toString,
          new java.io.File(base, "checkpoint").toString)
        s.read.parquet(new java.io.File(base, "state").toString)
          .orderBy("user_id")
      },
      Some("""SELECT user_id, ts, event_id, value FROM (
          SELECT user_id, ts, event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1 ORDER BY user_id""")),

    // Stream-stream LEFT OUTER interval join: matched rows emit at
    // match time (as q73), and an unmatched click emits null-extended
    // only once the watermark proves no purchase can still arrive for
    // it. Two subtleties, both hash-checked in the oracle: (1) each
    // side's watermark tracks ITS OWN max event time (post-filter), and
    // the global watermark is the MIN of the two — so the cutoff keys
    // off min(max click_ts, max purchase_ts), not the table max;
    // (2) the click's state evicts when its join-window END passes
    // that watermark, i.e. click_ms + 2 h < min_max_ms (1 h watermark
    // delay + 1 h interval, strict, in Spark's millisecond event-time
    // domain). Clicks whose window the watermark hasn't closed stay in
    // state and correctly do NOT emit.
    Q("q122_stream_outer_interval_join",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val buys = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"),
            col("value").as("purchase_value"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
            col("user_id") === col("p_user") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
            "leftOuter")
          .select(col("user_id"), col("click_id"), col("click_ts"),
            col("purchase_id"), col("purchase_ts"), col("purchase_value"))
        s.catalog.dropTempView("q122_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(joined, "q122_sink", OutputMode.Append())
        }
        s.table("q122_sink")
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""WITH c AS (SELECT user_id, ts AS click_ts,
            event_id AS click_id FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id AS p_user, ts AS purchase_ts,
            event_id AS purchase_id, value AS purchase_value
            FROM events WHERE event_type = 'purchase'),
          wm AS (SELECT least(
              (SELECT max(ts) FROM events WHERE event_type = 'click'),
              (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
            AS m),
          matched AS (SELECT c.user_id, c.click_id, c.click_ts,
              p.purchase_id, p.purchase_ts, p.purchase_value
            FROM c JOIN p ON c.user_id = p.p_user
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR),
          unmatched AS (SELECT c.user_id, c.click_id, c.click_ts,
              CAST(NULL AS BIGINT) AS purchase_id,
              CAST(NULL AS TIMESTAMP) AS purchase_ts,
              CAST(NULL AS DOUBLE) AS purchase_value
            FROM c, wm
            WHERE NOT EXISTS (SELECT 1 FROM p
                WHERE p.p_user = c.user_id
                  AND p.purchase_ts >= c.click_ts
                  AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
              AND epoch_ms(c.click_ts) + 7200000 < epoch_ms(wm.m))
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        ORDER BY user_id, click_id, purchase_id""")),

    // Streaming KMV sketch: the q114 cardinality sketch maintained as
    // CUSTOM BOUNDED STATE (mapGroupsWithState) — k longs per key,
    // forever, where exact streaming COUNT(DISTINCT) state grows with
    // every new member. The k-min merge is order-insensitive, so the
    // drained result equals the batch sketch — hash-checked against
    // the same SQL oracle as q114. The one-batch AvailableNow drain pins one
    // emission per key (Update semantics emit per batch).
    Q("q127_stream_kmv_sketch",
      (s, dir) => {
        val k = 8
        val hashed = eventsStream(s, dir)
          .selectExpr("event_type AS grp",
            "(user_id * 2654435761) % 4294967296 AS h")
        val sk = StreamOps.kmvSketchStream(s, hashed, k)
        s.catalog.dropTempView("q127_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(sk, "q127_sink", OutputMode.Update())
        }
        s.table("q127_sink")
          // Mirror the oracle's `WHERE rn = 8`: keys with fewer than k
          // distinct hashes carry no k-th min and are omitted.
          .filter(size(col("mins")) === k)
          .select(col("grp").as("event_type"),
            element_at(col("mins"), k).as("kth_hash"),
            (lit(7L * 4294967296L).cast("double") /
              element_at(col("mins"), k).cast("double"))
              .as("est_distinct"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
          SELECT DISTINCT event_type,
            (user_id * 2654435761) % 4294967296 AS h FROM events),
        r AS (SELECT event_type, h, row_number() OVER (
            PARTITION BY event_type ORDER BY h) AS rn FROM h)
        SELECT event_type, h AS kth_hash,
          CAST(30064771072 AS DOUBLE) / CAST(h AS DOUBLE) AS est_distinct
        FROM r WHERE rn = 8 ORDER BY event_type""")),

    // Streaming twin of q109: top-k per key maintained as BOUNDED
    // aggregation state (the TopKAggregate Aggregator runs unchanged
    // inside a streaming groupBy — k (value, id) pairs per key
    // forever, map-side partials per micro-batch, truncation commutes
    // with merge so the drained state equals the batch top-k no
    // matter the chunking). The one-batch AvailableNow drain pins one Update
    // emission per key; hash-checked against the same rank-window
    // oracle as q109.
    Q("q144_stream_topk",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val agg = stream.groupBy("event_type")
          .agg(graft.expressions.TopKAggregate
            .topK(col("value"), col("event_id"), 3).as("top"))
        s.catalog.dropTempView("q144_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(agg, "q144_sink", OutputMode.Update())
        }
        s.table("q144_sink")
          .select(col("event_type"),
            posexplode(col("top")).as(Seq("p", "t")))
          .select(col("event_type"),
            (col("p") + 1).cast("long").as("rank"),
            col("t._1").as("value"), col("t._2").as("event_id"))
          .orderBy("event_type", "rank")
      },
      Some("""SELECT event_type, rank, value, event_id FROM (
          SELECT event_type, value, event_id,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id DESC) AS BIGINT) AS rank
          FROM events)
        WHERE rank <= 3 ORDER BY event_type, rank""")),

    // Streaming SCD2: the q77 dimension history maintained by a
    // foreachBatch sink. The change log lands as THREE time-ordered
    // chunk files (mtimes pinned so the file source drains them
    // oldest-first, one micro-batch each); every batch builds its own
    // mini run-history and Scd2.applyBatch stitches it into the state
    // table — a run spanning a batch boundary EXTENDS instead of
    // fragmenting, so the drained state hash-matches the batch
    // history of the whole log (q77's oracle verbatim). Crash-safe
    // swap + checkpointed resume ride the shared state-table harness.
    Q("q148_stream_scd2",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select("user_id", "event_type", "ts", "event_id")
        val landingDir = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft-q148-landing-${datasetKey(dir)}")
        if (!new java.io.File(landingDir, "_SUCCESS").exists()) {
          landingDir.mkdirs()
          val cuts = Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00")
          val preds = Seq(
            col("ts") < to_timestamp(lit(cuts(0))),
            col("ts") >= to_timestamp(lit(cuts(0))) &&
              col("ts") < to_timestamp(lit(cuts(1))),
            col("ts") >= to_timestamp(lit(cuts(1))))
          preds.zipWithIndex.foreach { case (p, i) =>
            val stage = java.nio.file.Files
              .createTempDirectory("graft-q148-stage").toFile
            ev.filter(p).coalesce(1).write.mode("overwrite")
              .parquet(stage.toString)
            val part = stage.listFiles()
              .find(f => f.getName.endsWith(".parquet")).get
            val target = new java.io.File(landingDir, f"chunk-$i%05d.parquet")
            java.nio.file.Files.move(part.toPath, target.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            // pin mtimes so discovery order == event-time order
            target.setLastModified(1700000000000L + i * 60000L)
          }
          java.nio.file.Files.write(
            new java.io.File(landingDir, "_SUCCESS").toPath,
            Array.empty[Byte])
        }
        val stateBase = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft-q148-state-${datasetKey(dir)}")
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landingDir.toString)
        StreamOps.scd2Sink(s, stream,
          new java.io.File(stateBase, "state").toString,
          new java.io.File(stateBase, "ckpt").toString)
        s.read.parquet(new java.io.File(stateBase, "state").toString)
          .orderBy("user_id", "valid_from", "state")
      },
      Some("""WITH chg AS (
          SELECT user_id, event_type, ts, event_id FROM (
            SELECT user_id, event_type, ts, event_id,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS pv
            FROM events)
          WHERE pv IS NULL OR pv <> event_type)
        SELECT user_id, event_type AS state, ts AS valid_from,
          lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS valid_to,
          lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) IS NULL AS is_current
        FROM chg ORDER BY user_id, valid_from, state""")),

    // Streaming twin of q152: the distribution-drift monitor as a
    // LIVE quality gate — per-(series, bin) period counts maintained
    // as streaming aggregation state (plain mergeable counts, so the
    // drained state is chunking-invariant by construction), the
    // chi-square-family score computed on the drained |bins| table
    // exactly as in batch. Hash-matches q152's oracle verbatim: the
    // streaming path and the batch path must agree bit-for-bit.
    Q("q167_stream_distribution_drift",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 12)
        val cutTs = "2024-01-16 00:00:00"
        val stream = eventsStream(s, dir)
          .select(col("event_type"),
            floor(col("value") / 10.0).cast("long").as("bin"),
            (col("ts") < to_timestamp(lit(cutTs))).as("in_a"))
        val binCounts = stream.groupBy("event_type", "bin")
          .agg(count(when(col("in_a"), 1)).as("na"),
            count(when(!col("in_a"), 1)).as("nb"))
        s.catalog.dropTempView("q167_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(binCounts, "q167_sink",
            OutputMode.Update())
        }
        // period totals as an unordered window over the |bins| table
        // (a join of the sink view with its own aggregate trips
        // conflicting-reference resolution on the memory sink's View)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        val pa = col("na").cast("double") / col("ta").cast("double")
        val pb = col("nb").cast("double") / col("tb").cast("double")
        s.table("q167_sink")
          .withColumn("ta", sum(col("na")).over(w))
          .withColumn("tb", sum(col("nb")).over(w))
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

    // Streaming twin of q168: HyperLogLog registers maintained as
    // streaming aggregation state — the register is a MAX, the single
    // most merge-friendly state there is (16 longs per series,
    // forever; max commutes with any chunking). The estimator runs on
    // the drained register table; hash-matches q168's batch oracle
    // verbatim.
    Q("q169_stream_hll",
      (s, dir) => {
        val regs = eventsStream(s, dir)
          .withColumn("a", expr(
            "(user_id * 2654435761 + ascii(event_type) * 1000003)" +
              " % 4294967296"))
          .withColumn("b", expr("a ^ (a div 65536)"))
          .withColumn("c", expr("(b * 2145916205) % 4294967296"))
          .withColumn("h", expr("c ^ (c div 8192)"))
          .withColumn("j", expr("h % 16"))
          .withColumn("w", expr("h div 16"))
          .withColumn("rank",
            when(col("w") === 0, lit(29))
              .otherwise(lit(29) - length(expr("bin(w)"))))
          .groupBy(col("event_type"), col("j"))
          .agg(max(col("rank")).as("m"))
        s.catalog.dropTempView("q169_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(regs, "q169_sink", OutputMode.Update())
        }
        s.table("q169_sink")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_regs"),
            (sum(expr(
              "1.0 / cast(shiftleft(cast(1 as bigint), m) as double)"))
              + (lit(16) - count(lit(1))) * lit(1.0)).as("z"))
          .select(col("event_type"), col("n_regs"),
            (lit(0.673) * lit(256.0) / col("z")).as("hll_estimate"))
          .orderBy("event_type")
      },
      Some("""WITH h0 AS (SELECT DISTINCT event_type,
            (user_id * 2654435761 + ascii(event_type) * 1000003)
              % 4294967296 AS a
          FROM events),
        h1 AS (SELECT event_type, xor(a, a // 65536) AS b FROM h0),
        h2 AS (SELECT event_type,
            (b * 2145916205) % 4294967296 AS c FROM h1),
        h AS (SELECT event_type, xor(c, c // 8192) AS h FROM h2),
        r AS (SELECT event_type, h % 16 AS j, h // 16 AS w FROM h),
        rk AS (SELECT event_type, j,
            CASE WHEN w = 0 THEN 29
              ELSE 29 - length(bin(w)) END AS rank
          FROM r),
        regs AS (SELECT event_type, j, max(rank) AS m
          FROM rk GROUP BY 1, 2),
        est AS (SELECT event_type,
            CAST(count(*) AS BIGINT) AS n_regs,
            sum(1.0 / CAST((1::BIGINT << m) AS DOUBLE))
              + (16 - count(*)) * 1.0 AS z
          FROM regs GROUP BY 1)
        SELECT event_type, n_regs, 0.673 * 256.0 / z AS hll_estimate
        FROM est ORDER BY 1""")),

    // Real-time continuous aggregate: q166's rollup maintained by a
    // STREAM — each micro-batch (up to 8 landing files per trigger)
    // appends to raw and refreshes exactly its event-time span, so
    // buckets straddling micro-batches are refreshed again by the
    // last batch that touches them (parquet files are not
    // time-ordered, so spans overlap arbitrarily — the refresh-from-
    // full-raw discipline is what makes order irrelevant). Final
    // rollup hash-matches the straight-from-raw oracle, q166
    // verbatim.
    Q("q170_stream_continuous_aggregate",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        // shared with eventsStream, so it lands the same single-file
        // layout the dir's tag names
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 8)
          .parquet(eventsLanding(dir, ev))
        val ds = new graft.ingest.IngestDataset(s,
          java.nio.file.Files.createTempDirectory("graft-q170").toString,
          "events_ds")
        val ca = new graft.ingest.ContinuousAggregate(
          ds, "events", "events_hourly", "ts", "hour",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"),
            sum(col("value").cast(
              org.apache.spark.sql.types.DecimalType(28, 2)))
              .as("total")))
        ca.streamingSink(stream,
          java.nio.file.Files
            .createTempDirectory("graft-q170-ckpt").toString)
        ca.read()
          .select(col("event_type"), col("bucket"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("event_type", "bucket")
      },
      Some("""SELECT event_type, date_trunc('hour', ts) AS bucket,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Streaming twin of q177's OHLC bars: the arg-min/max struct
    // aggregates ARE the streaming state — open/close partials merge
    // by the same lexicographic (ts, event_id) comparison in any
    // arrival order, so the drained bars are chunking-invariant by
    // construction, exactly like the batch aggregate's map-side
    // combine. Hourly windows under a 1 h watermark; append mode
    // emits a bar once its window end passes the watermark, and the
    // oracle applies that identical cutoff to the batch OHLC.
    Q("q181_stream_ohlc",
      (s, dir) => {
        val stream = eventsStream(s, dir)
        val agg = stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            min(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("close"),
            count(lit(1)).as("n_ticks"))
          .select(col("window.start").as("bucket"), col("event_type"),
            col("open"), col("high"), col("low"), col("close"),
            col("n_ticks"))
        s.catalog.dropTempView("q181_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(agg, "q181_sink", OutputMode.Append())
        }
        s.table("q181_sink").orderBy("event_type", "bucket")
      },
      Some("""WITH e AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket, ts, event_id, value
          FROM events),
        o AS (SELECT *,
            row_number() OVER (PARTITION BY event_type, bucket
              ORDER BY ts, event_id) AS rn_a,
            row_number() OVER (PARTITION BY event_type, bucket
              ORDER BY ts DESC, event_id DESC) AS rn_z
          FROM e),
        bars AS (SELECT event_type, bucket,
            max(CASE WHEN rn_a = 1 THEN value END) AS open,
            max(value) AS high, min(value) AS low,
            max(CASE WHEN rn_z = 1 THEN value END) AS close,
            CAST(count(*) AS BIGINT) AS n_ticks
          FROM o GROUP BY 1, 2),
        wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT bucket, event_type, open, high, low, close, n_ticks
        FROM bars, wm WHERE bucket + INTERVAL 1 HOUR <= w
        ORDER BY event_type, bucket""")),

    // Streaming twin of q189's deterministic fixed-size sample: the
    // n smallest multiplicative hashes as BOUNDED aggregation state
    // (TopKAggregate.bottomK — n pairs per state row forever, merges
    // associative+commutative, so the drained sample equals the batch
    // sample under any chunking; the reservoir-sampling need without
    // reservoir sampling's RNG). Same Knuth hash as q114 so the
    // oracle is pure integer arithmetic.
    Q("q191_stream_sample",
      (s, dir) => {
        val KnuthA = 2654435761L
        val M32 = 4294967296L
        val n = 40
        val stream = eventsStream(s, dir)
        val agg = stream.groupBy()
          .agg(graft.expressions.TopKAggregate.bottomK(
            expr(s"CAST((event_id * $KnuthA) % $M32 AS DOUBLE)"),
            col("event_id"), n).as("smp"))
        s.catalog.dropTempView("q191_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(agg, "q191_sink", OutputMode.Update())
        }
        s.table("q191_sink")
          .select(posexplode(col("smp")).as(Seq("p", "t")))
          .select((col("p") + 1).cast("long").as("rank"),
            col("t._1").cast("long").as("h"), col("t._2").as("event_id"))
          .orderBy("rank")
      },
      Some("""SELECT rank, h, event_id FROM (
          SELECT event_id, (event_id * 2654435761) % 4294967296 AS h,
            CAST(row_number() OVER (ORDER BY
              (event_id * 2654435761) % 4294967296, event_id)
              AS BIGINT) AS rank
          FROM events)
        WHERE rank <= 40 ORDER BY rank""")),

    // Streaming WEIGHTED sample: q201's priority sampling maintained
    // as bounded aggregation state per event type — weight =
    // |value|·100 cents (heavy events dominate the sample), priority
    // = w/u with the same deterministic integer uniform, TopKAggregate
    // keeps k (priority, id) pairs per type FOREVER (truncation
    // commutes with merge, so the drained state equals the batch
    // sample under any micro-batch chunking). Where q191 samples
    // uniformly, this is the sample you drain when "show me what's in
    // this stream" must surface the rows that carry the mass.
    Q("q210_stream_priority_sample",
      (s, dir) => {
        val SampleA = 2246822519L
        val M32 = 4294967296L
        val k = 10
        val stream = eventsStream(s, dir)
        val agg = stream
          .selectExpr("event_type",
            "CAST(abs(CAST(value * 100 AS DECIMAL(28,0))) + 1 AS DOUBLE)" +
              s" / CAST((event_id * $SampleA) % $M32 + 1 AS DOUBLE)" +
              " AS priority",
            "event_id")
          .groupBy("event_type")
          .agg(graft.expressions.TopKAggregate.topK(
            col("priority"), col("event_id"), k).as("smp"))
        s.catalog.dropTempView("q210_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(agg, "q210_sink", OutputMode.Update())
        }
        s.table("q210_sink")
          .select(col("event_type"), posexplode(col("smp")).as(Seq("p", "t")))
          .select(col("event_type"),
            (col("p") + 1).cast("long").as("rank"),
            col("t._1").as("priority"), col("t._2").as("event_id"))
          .orderBy("event_type", "rank")
      },
      Some("""SELECT event_type, rank, priority, event_id FROM (
          SELECT event_type, event_id,
            CAST(abs(CAST(value * 100 AS DECIMAL(28,0))) + 1 AS DOUBLE)
              / CAST((event_id * 2246822519) % 4294967296 + 1 AS DOUBLE)
              AS priority,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY
              CAST(abs(CAST(value * 100 AS DECIMAL(28,0))) + 1 AS DOUBLE)
                / CAST((event_id * 2246822519) % 4294967296 + 1
                  AS DOUBLE) DESC, event_id DESC)
              AS BIGINT) AS rank
          FROM events)
        WHERE rank <= 10 ORDER BY event_type, rank""")),

    // Streaming twin of q229 DSIR: the 256-bucket target/raw counts
    // accumulate as STREAMING aggregation state over the documents
    // stream (plain mergeable counts — chunking-invariant by
    // construction), then the static raw pool is scored against the
    // drained state table. Oracle = q229's verbatim (the q167
    // pattern): the stream's state must equal the batch distribution
    // or every downstream vote flips.
    Q("q236_stream_dsir",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stream = documentsStream(s, dir, cap = 16)
        val countsS = graft.operators.Dsir.bucketCounts(
          graft.operators.Dsir.occurrences(stream, "doc_id", "text",
            col("lang") === "en"))
        s.catalog.dropTempView("q236_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(countsS, "q236_sink",
            OutputMode.Update())
        }
        val occ = graft.operators.Dsir.occurrences(docs, "doc_id",
          "text", col("lang") === "en").persist()
        graft.operators.Dsir.scoreRaw(occ, s.table("q236_sink"))
          .orderBy("doc_id")
      },
      Some(CorpusOps.DsirOracle)),

    // Streaming twin of q256 — the filter-at-ingest deployment of the
    // trained quality probe: the model is learned offline on the
    // static corpus (3 exact-GD iterations), then applied to the
    // document STREAM as a pure stateless projection (features +
    // surrogate sigmoid are row-local expressions, so the scoring
    // needs no state store, no watermark, no shuffle — the cheapest
    // possible streaming stage). Same oracle CTE chain as q256, so
    // train-offline/score-online is hash-proven equal to
    // train-offline/score-offline.
    Q("q258_stream_quality_filter",
      (s, dir) => {
        val feats = CorpusOps.probeFeatures(
          Tables.load(s, dir, "documents")).persist()
        val w = graft.operators.LinearProbe.train(
          feats, CorpusOps.ProbeFeats, "y", iterations = 3, lr = 0.1)
        feats.unpersist(false)
        val scoredS = graft.operators.LinearProbe
          .score(CorpusOps.probeFeatures(documentsStream(s, dir)),
            w.toSeq, CorpusOps.ProbeFeats)
          .select(col("doc_id"), col("score"),
            (col("score") >= 0.5).as("selected"))
        s.catalog.dropTempView("q258_sink")
        StreamOps.drainToMemory(scoredS, "q258_sink",
          OutputMode.Append())
        s.table("q258_sink").orderBy("doc_id")
      },
      Some(s"""WITH ${CorpusOps.ProbeScoredCtes}
        SELECT doc_id, score, score >= 0.5 AS selected
        FROM scored ORDER BY doc_id""")),

    // Streaming twin of q262's memorization audit — the deploy shape:
    // the training gram set is STATIC (built offline from the %10<8
    // split), incoming documents stream through a stream-static LEFT
    // join on the gram key (no state: the static side is the join's
    // build input each micro-batch) and a streaming per-doc aggregate
    // (Update mode, one row of state per open document). At 100 TB
    // the static side is a hashed gram table the join shuffles
    // against — the same asymmetric new-vs-corpus posture as the
    // incremental near-dup. Oracle = q262's verbatim: audit-online
    // must equal audit-offline or the filter drifts from its spec.
    Q("q282_stream_novelty",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val train = TrainOps.docGrams(docs)
          .filter(col("doc_id") % 10 < 8)
          .select("gram").distinct().withColumn("seen", lit(1))
        val streamG = TrainOps.docGrams(documentsStream(s, dir, cap = 16))
          .filter(col("doc_id") % 10 >= 8)
        val nov = streamG.join(train, Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("seen").isNull, lit(1L)).otherwise(lit(0L)))
              .as("n_novel"))
          .withColumn("novelty",
            col("n_novel").cast("double") / col("n_grams").cast("double"))
        s.catalog.dropTempView("q282_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(nov, "q282_sink",
            OutputMode.Update())
        }
        s.table("q282_sink").orderBy("doc_id")
      },
      Some(TrainOps.NoveltyOracle)),

    // Streaming twin of q280 — the URL-blocklist gate in its deploy
    // shape: documents arrive as micro-batches, each host explodes
    // into its DNS suffix chain row-locally, the chain stream-static
    // joins the broadcast blocklist, and the per-doc verdict is an
    // Update-mode aggregate (one state row per doc in flight). The
    // gate logic is WebOps.suffixBlockGate — the SAME function q280
    // runs in batch — and the oracle is q280's verbatim, so the
    // deploy shape provably computes the batch semantics.
    Q("q286_stream_blocklist",
      (s, dir) => {
        val gate = WebOps.suffixBlockGate(documentsStream(s, dir))
        s.catalog.dropTempView("q286_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(gate, "q286_sink",
            OutputMode.Update())
        }
        s.table("q286_sink").orderBy("doc_id")
      },
      Some(WebOps.BlocklistOracle)),

    // Streaming twin of q285 at the ROW level — online-ingest
    // decontamination: each arriving train vector stream-static joins
    // the broadcast benchmark set with the fused double-cosine kernel
    // pruning inside the join condition (τ−1e-6 can never drop a true
    // survivor), and the per-vector verdict is ONE Update-mode
    // aggregate whose max() folds the exact decimal rescore — the
    // single stateful operator keeps the chain inside what streaming
    // supports, and a left join guarantees every vector a verdict
    // row. Oracle: q285's gate replayed per vector (hosted by
    // VectorOps so batch and twin cannot drift).
    Q("q290_stream_decontaminate",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val ev = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("ref_id"),
            col("embedding").as("pb"))
        val tr = embeddingsStream(s, dir)
          .filter(col("vec_id") % 20 =!= 0)
          .select(col("vec_id"), col("label"),
            col("embedding").as("pa"))
        val verdict = tr.join(broadcast(ev),
            graft.expressions.CosineSimilarity.cosine(
              col("pa"), col("pb")) >= 0.35 - 1e-6,
            "left_outer")
          .groupBy("vec_id", "label")
          .agg(max(when(graft.operators.Similarity.exactCosine(
              col("pa"), col("pb")) >= 0.35, 1L)
            .otherwise(0L)).as("hit"))
          .select(col("vec_id"), col("label"),
            (col("hit") === 1L).as("contaminated"))
        s.catalog.dropTempView("q290_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(verdict, "q290_sink",
            OutputMode.Update())
        }
        s.table("q290_sink").orderBy("vec_id")
      },
      Some(VectorOps.decontaminateRowOracle)),

    // Streaming twin of q299 — script routing at the ingest edge:
    // language/script gating is naturally a STREAMING concern (route
    // each arriving doc before it lands), and the per-doc computation
    // is a pure stateless projection (TextOps.scriptMix, the SAME
    // function the batch query runs), so the twin is Append-mode with
    // ZERO state rows — the cheapest possible deploy shape. Oracle:
    // q299's verbatim, so the edge router provably computes the batch
    // semantics.
    Q("q302_stream_script_mix",
      (s, dir) => {
        val routed = TextOps.scriptMix(documentsStream(s, dir))
        s.catalog.dropTempView("q302_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(routed, "q302_sink",
            OutputMode.Append())
        }
        s.table("q302_sink").orderBy("doc_id")
      },
      Some(TextOps.ScriptMixOracle)),

    // Streaming twin of q298 — mojibake repair at the ingest edge,
    // where the fix belongs (repair BEFORE the corrupt text lands in
    // the corpus and fans out to shards/dedup/tokenization). Same
    // construction as q302: TextOps.mojibakeRepair verbatim, pure
    // stateless projection, Append-mode, zero state rows; q298's
    // oracle verbatim.
    Q("q309_stream_mojibake",
      (s, dir) => {
        val repaired = TextOps.mojibakeRepair(documentsStream(s, dir))
        s.catalog.dropTempView("q309_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(repaired, "q309_sink",
            OutputMode.Append())
        }
        s.table("q309_sink").orderBy("doc_id")
      },
      Some(TextOps.MojibakeOracle)),

    // Chat-format lint at the ingest edge (the q309 convention): SFT
    // transcripts should be linted BEFORE they land and fan out to
    // packing/masking/mixing, and the per-doc lint is a pure stateless
    // projection (real to_json/from_json + codegen'd HOFs, no
    // aggregation, no state rows) — the q311 batch census and this
    // twin share ONE definition (TrainOps.chatLintPerDoc), and the
    // oracle replays the identical per-doc scan.
    Q("q314_stream_chat_lint",
      (s, dir) => {
        val linted = TrainOps.chatLintPerDoc(documentsStream(s, dir))
          .select(col("doc_id"), col("source"),
            col("n_turns").cast("long").as("n_turns"),
            col("violation"),
            col("assistant_tokens").cast("long").as("assistant_tokens"))
        s.catalog.dropTempView("q314_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(linted, "q314_sink",
            OutputMode.Append())
        }
        s.table("q314_sink").orderBy("doc_id")
      },
      Some(TrainOps.ChatLintPerDocSql + """
        SELECT doc_id, source, CAST(n_turns AS BIGINT) AS n_turns,
          violation, assistant_tokens
        FROM lint ORDER BY doc_id""")),

    // Streaming twin of q322's format classifier — format ROUTING at
    // the ingest edge (decide per arriving document whether it goes
    // to the code / html / markdown / prose pipeline), the same
    // stateless-projection class as the chat-lint and mojibake twins:
    // Append mode, zero state rows, batch ≡ stream by construction
    // because both run the IDENTICAL factored function.
    Q("q323_stream_format_census",
      (s, dir) => {
        val routed = TextOps.formatPerDoc(documentsStream(s, dir))
          .select(col("doc_id"), col("source"),
            col("n_html").cast("long").as("n_html"),
            col("n_code").cast("long").as("n_code"),
            col("fmt"))
        s.catalog.dropTempView("q323_sink")
        StreamOps.withStatePartitions(s, 8) {
          StreamOps.drainToMemory(routed, "q323_sink",
            OutputMode.Append())
        }
        s.table("q323_sink").orderBy("doc_id")
      },
      Some(TextOps.FormatClsCte + """
        SELECT doc_id, source, CAST(n_html AS BIGINT) AS n_html,
          CAST(n_code AS BIGINT) AS n_code, fmt
        FROM cls ORDER BY doc_id"""))
  )

  /** Embeddings landing zone (the documentsStream pattern):
    * single-file — the round-20 A/B measured the fan a 1.37× LOSS on q290
    * (its cost is the per-batch broadcast + Update-mode state, not
    * the scan). */
  private def embeddingsStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val landing = landOnce(emb, new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-q290-landing-${datasetKey(dir, "embeddings")}-p1"), 1)
    StreamOps.landingZone(s, landing, emb.schema)
  }

  /** Documents landing zone (the eventsStream pattern): one
    * micro-batch under AvailableNow regardless of file count (the
    * memory sink in Update mode holds one row per (key, BATCH) — the
    * batch count, unchanged here, is what the parity arguments pin,
    * not the file count). `cap` picks the layout per twin: the heavy
    * per-doc pipelines (q236 Dsir occurrences, q282 docGrams) read
    * the fanned landing and scan in parallel; the light scorers keep
    * the single-file copy (see [[landingFanOut]] for the measured
    * split). */
  private def documentsStream(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Int = 1): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val n = landingFanOut(s, cap)
    val landing = landOnce(docs, new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-q236-landing-${datasetKey(dir, "documents")}-p$n"), n)
    StreamOps.landingZone(s, landing, docs.schema)
  }
}
