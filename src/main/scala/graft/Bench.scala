package graft

/** Driver benchmark main: runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  *
  * Each query is materialized through the `noop` sink — unlike
  * `count()`, that forces every projected column to be computed, so
  * string/geometry/vector outputs are actually paid for. A small
  * warmup job runs first so the first-measured query doesn't absorb
  * session/codegen startup.
  */
object Bench {

  /** Outlier selection for the end-of-suite re-measurement pass.
    *
    * The main pass times each query as min-of-two back-to-back runs,
    * but a host co-tenancy phase can outlast both (round 13: the
    * driver's single capture recorded q71 at 125.5 s where four
    * same-code runs measured 2.4–2.7 s, pushing the official gate
    * artifact to 2.74× on weather alone). A query is an outlier when
    * its measured time exceeds max(2× its reference recording, 1 s) —
    * the same threshold the round-13 verdict prescribed — where the
    * reference is its BENCH_full_r07 entry, falling back to the prior
    * round's committed full run for queries newer than r7. Slowest
    * first, capped so a whole-suite squeeze can't double the run.
    * Queries with no reference at all are never selected (nothing to
    * compare against; their first recording becomes the next prior).
    */
  def selectOutliers(measured: Map[String, Double],
      ref: Map[String, Double], cap: Int = 20): Seq[String] =
    measured.toSeq
      .flatMap { case (name, sec) =>
        ref.get(name).collect {
          case r if sec > math.max(2.0 * r, 1.0) => (name, sec)
        }
      }
      .sortBy(-_._2)
      .take(cap)
      .map(_._1)

  /** Shuffle-drift selection (r14 verdict #3): queries whose total
    * shuffle volume grew >1.5× vs the prior round's committed
    * recording, on priors ≥1 MB (tiny control-plane queries jitter).
    * Shuffle bytes are the plan-shape signal wall-clock isn't — they
    * don't move with box phase, so growth means the PLAN changed.
    * Largest current volume first. */
  def selectDrift(current: Map[String, Double],
      prior: Map[String, Double]): Seq[(String, Double, Double)] =
    current.toSeq
      .flatMap { case (k, cur) =>
        prior.get(k).collect {
          case p if p >= 1.0 && cur > 1.5 * p => (k, p, cur)
        }
      }
      .sortBy(-_._3)

  /** Wall-drift selection (r15 verdict #1): the q203 class of
    * regression is wall+heap at FLAT shuffle (codegen-cache × JIT,
    * persisted-build loss, sort-order change…), which the
    * shuffle-bytes alarm is blind to by construction. A query drifts
    * when its min-of-runs seconds, divided by the box-phase factor,
    * exceeds 1.5× the prior round's recording, on priors ≥1 s (fast
    * queries jitter past 1.5× on scheduler noise alone).
    *
    * `phaseFactor` is curParProbe/priorParProbe clamped to ≥1: a
    * slower box forgives proportionally, a faster box never AMPLIFIES
    * a ratio (a query that stayed slow on a faster box is more
    * suspicious, not less — don't divide by <1).
    *
    * Corroboration (r17 verdict #2): three rounds running (r15 trio,
    * r16 q252/q267/q268, r17 q237/q108/q225) the ratio-only rule
    * flagged 1–2 s queries whose plan telemetry was BYTE-IDENTICAL
    * across rounds (r17 trio: shuffle 11.66→11.66 MB, task-mem
    * 66→66 MB) and every adjudicating A/B measured session noise —
    * the co-tenancy hit is additive and bounded (~1 s), so a pure
    * ratio gate on short priors is structurally a noise detector. A
    * flagged query is therefore EXONERATED only on positive evidence
    * of all three: the phase-normalized absolute move is inside the
    * observed noise window (≤1.5 s), AND its shuffle volume is flat
    * (≤1.3× + 0.5 MB), AND its peak task memory is flat (≤1.5× +
    * 8 MB). A real regression escapes on any leg: a plan change moves
    * shuffle, a working-set change moves task memory, and a big
    * CPU-only regression moves more than the noise window. Missing
    * telemetry never exonerates (fail open, like the heap alarm).
    * Blind spot, accepted and documented: a genuine ≤1.5 s CPU-only
    * slowdown with a provably-unchanged plan is indistinguishable
    * from the noise this box produces every round. */
  def selectWallDrift(current: Map[String, Double],
      prior: Map[String, Double],
      phaseFactor: Double,
      curShuffle: Map[String, Double] = Map.empty,
      priorShuffle: Map[String, Double] = Map.empty,
      curTaskMem: Map[String, Double] = Map.empty,
      priorTaskMem: Map[String, Double] = Map.empty)
      : Seq[(String, Double, Double)] = {
    val f = math.max(1.0, phaseFactor)
    def flat(cur: Option[Double], prior: Option[Double],
        ratio: Double, slackAbs: Double): Boolean =
      (cur, prior) match {
        case (Some(c), Some(p)) => c <= ratio * p + slackAbs
        case _ => false // no telemetry — can't exonerate
      }
    current.toSeq
      .flatMap { case (k, cur) =>
        prior.get(k).collect {
          case p if p >= 1.0 && cur / f > 1.5 * p &&
            !(cur / f - p <= 1.5 &&
              flat(curShuffle.get(k), priorShuffle.get(k), 1.3, 0.5) &&
              flat(curTaskMem.get(k), priorTaskMem.get(k), 1.5, 8.0)) =>
            (k, p, cur)
        }
      }
      .sortBy(-_._3)
  }

  /** Paired growth-ratio drift — the robust cross-round memory rule:
    * a query alarms only when its own value grew >`minRatio`× its
    * prior AND >2× the suite's MEDIAN growth ratio (a session-wide
    * shift moves the median with it and cancels), on priors ≥`floor`.
    * Growth-only: a shrink is never drift. */
  def pairedGrowthDrift(current: Map[String, Double],
      prior: Map[String, Double], floor: Double,
      minRatio: Double): Seq[(String, Double, Double)] = {
    val ratios = current.toSeq.flatMap { case (k, cur) =>
      prior.get(k).collect {
        case p if p >= floor => (k, p, cur, cur / p)
      }
    }
    if (ratios.isEmpty) Seq.empty
    else {
      val rs = ratios.map(_._4).sorted
      val med = rs(rs.size / 2)
      ratios.collect {
        case (k, p, cur, r) if r > minRatio && r > 2.0 * med => (k, p, cur)
      }.sortBy(-_._3)
    }
  }

  /** Heap-drift selection (r15 verdict #1, corroboration r16 verdict
    * #1): retained heap (live set after the last collection) is a
    * SESSION statistic — block storage, code cache, catalog metadata,
    * collector timing — that shifts wholesale, RAMPS positionally
    * (one r16 session: 229 MB → 4.7 GB through the alphabet), hits
    * contiguous positional stretches with late-collection clusters
    * measured up to ~3.5× at identical results, and — the r16 driver
    * capture — PLATEAUS across a contiguous minority of the suite
    * (86 queries uniformly at 2245–2363 MB, suite median growth 0.99:
    * the >2×-median cancel assumes a session shift moves >half the
    * suite, so a 26% plateau sails through both gates). The absolute
    * gate sits at 4× on top of the paired median rule (priors
    * ≥64 MB), AND the flag must be corroborated by the
    * query-attributable memory signal: a real working-set regression
    * (the q203 class — 9× heap from a plan change) allocates its
    * growth in EXECUTION memory, so `peak_task_mem_mb` grows with it,
    * while every observed collector artifact (plateau, ramp, cluster)
    * leaves task memory flat (r16: all 86 plateau flags had task-mem
    * ratios within ±10% of the session shift). A flagged query with
    * no task-mem telemetry at all fails OPEN (can't be exonerated).
    *
    * Known blind spot of the corroboration (r17 ADVICE): a DRIVER-
    * side regression — oversized collected splitters, broadcast
    * blowup, cached plan metadata — grows retained heap with task
    * memory flat, the same signature as collector noise, so the
    * corroboration would silence it. Mitigation: an uncorroborated
    * ABSOLUTE ceiling — a flagged query whose retained heap grew >12×
    * AND past 4 GiB alarms regardless of task memory (calibrated on
    * "every observed collector artifact sits under both bounds: the
    * r16 plateau topped out at 2363 MB"; the corroborated path still
    * covers the executor-side classes below the ceiling).
    *
    * The calibration was falsified by the ceiling's FIRST driver
    * session (r18 verdict #1): a suite-wide collector plateau put 160
    * queries in a 5.3–5.7 GB band (positions 101–251 of the
    * alphabetical run order, task-mem dead flat, values RECOVERING to
    * ~2 GB later in the suite) and the ceiling fired once per paired
    * candidate — heap_drift_count=133 in the artifact of record. A
    * collector plateau can evidently cross any absolute bound, so the
    * ceiling path gets a session-uniformity cancel of its own:
    * [[splitHeapPlateau]] — 133 independent driver regressions do not
    * land in one contiguous positional stretch inside a ±15% value
    * band; one session shift does. Callers route ceiling flags
    * through the split; this function stays the candidate selector
    * (and the old behavior) so the committed r18 replay can pin both
    * rules against the same fixture. */
  def selectHeapDrift(current: Map[String, Double],
      prior: Map[String, Double],
      curTaskMem: Map[String, Double] = Map.empty,
      priorTaskMem: Map[String, Double] = Map.empty)
      : Seq[(String, Double, Double)] =
    pairedGrowthDrift(current, prior, floor = 64.0, minRatio = 4.0)
      .filter { case (k, p, cur) =>
        // absolute ceiling: a driver-side blowup has no task-mem
        // signature — past 12x AND 4 GiB nothing exonerates
        heapCeiling(p, cur) ||
        ((curTaskMem.get(k), priorTaskMem.get(k)) match {
          // ratio path: task memory must have grown ≥2× too
          case (Some(c), Some(tp)) if tp >= 1.0 => c >= 2.0 * tp
          // near-zero prior (control-plane query): corroborated only
          // if the current ABSOLUTE task footprint is material
          case (Some(c), Some(_)) => c >= 64.0
          // no telemetry → fail open: a missing field must not
          // silently disarm the alarm
          case _ => true
        })
      }

  /** The uncorroborated absolute ceiling of the heap alarm: retained
    * heap grew >12× a ≥64 MB prior AND sits past 4 GiB. Extracted so
    * [[splitHeapPlateau]] can tell which flags took this path — a
    * flag that instead passed the task-mem corroboration has an
    * execution-memory signature no collector plateau produces, and
    * never participates in the plateau cancel. */
  def heapCeiling(prior: Double, cur: Double): Boolean =
    cur > 12.0 * prior && cur > 4096.0

  /** Session-uniformity cancel for the ceiling path (r18 verdict #1).
    *
    * Splits a [[selectHeapDrift]] flag list into (per-query flags,
    * plateau runs). A plateau run is ≥ `minRun` CEILING-path flags
    * whose suite positions form one stretch (consecutive flagged
    * positions ≤ `maxGap` apart in `order`) and whose current values
    * stay inside a tight relative band (run max ≤ run min ×
    * (1+band)/(1−band), i.e. every value within ±`band` of the run
    * midpoint). That shape is a SESSION artifact — the collector's
    * live-set estimate shifting wholesale for a stretch of the run —
    * not K independent driver regressions: the r18 capture had 133
    * ceiling flags in a 5332–5798 MB band (±4.2%) over positions
    * 101–251 with a max positional gap of 7, task-mem flat, and the
    * values recovered to ~2 GB later in the suite. Each plateau is
    * reported ONCE (the `heap_plateau_count` field + a stderr line
    * with the band and span) instead of once per member.
    *
    * What still fires individually: corroborated flags (task-mem
    * signature), ceiling flags with no position in `order`, and any
    * run shorter than `minRun` — in particular the planted
    * single-query 13×/5 GiB driver blowup, which chains with no
    * neighbor. Documented residual: a genuine driver blowup whose
    * retained-heap value lands INSIDE an active plateau's band at an
    * adjacent position is absorbed by the run — the corroborated
    * ratio path below the ceiling is unaffected, and a blowup 18%+
    * off the band (e.g. 12 GB against a 5.5 GB plateau) still
    * separates. */
  def splitHeapPlateau(flags: Seq[(String, Double, Double)],
      order: Seq[String],
      minRun: Int = 8,
      band: Double = 0.15,
      maxGap: Int = 20)
      : (Seq[(String, Double, Double)],
         Seq[Seq[(String, Double, Double)]]) = {
    val pos = order.zipWithIndex.toMap
    val (ceil, rest) =
      flags.partition { case (_, p, c) => heapCeiling(p, c) }
    val (placed, unplaced) = ceil.partition(f => pos.contains(f._1))
    val sorted = placed.sortBy(f => pos(f._1))
    val runs = Seq.newBuilder[Vector[(String, Double, Double)]]
    var run = Vector.empty[(String, Double, Double)]
    var lo = 0.0; var hi = 0.0
    def flush(): Unit = if (run.nonEmpty) { runs += run; run = Vector.empty }
    sorted.foreach { f =>
      val v = f._3
      val nLo = if (run.isEmpty) v else math.min(lo, v)
      val nHi = if (run.isEmpty) v else math.max(hi, v)
      val contiguous = run.nonEmpty &&
        pos(f._1) - pos(run.last._1) <= maxGap &&
        nHi * (1.0 - band) <= nLo * (1.0 + band)
      if (run.isEmpty || contiguous) { run :+= f; lo = nLo; hi = nHi }
      else { flush(); run = Vector(f); lo = v; hi = v }
    }
    flush()
    val (plateaus, singles) = runs.result().partition(_.size >= minRun)
    ((rest ++ unplaced ++ singles.flatten).sortBy(-_._3), plateaus)
  }

  /** Peak-task-memory drift: execution memory is QUERY-attributable
    * (hash maps, sort buffers — what the plan actually allocates), so
    * unlike retained heap it carries no collector noise: measured
    * cross-round ratios sit within ±10% of the session's uniform
    * shift (r16: median 0.50, p95 0.55, max 1.0, zero false fires).
    * The standard 2× paired gate catches a q203-class working-set
    * regression directly. Priors ≥32 MB. */
  def selectTaskMemDrift(current: Map[String, Double],
      prior: Map[String, Double]): Seq[(String, Double, Double)] =
    pairedGrowthDrift(current, prior, floor = 32.0, minRatio = 2.0)

  /** Per-tag cap-counter movement between two [[graft.operators
    * .CapMetrics.cumulativeTotals]] samples — the bench harness's
    * per-query delta (tags that didn't move are dropped). Extracted
    * so the planted-engagement spec exercises the SAME wiring the
    * artifact rides (r17 verdict #3). */
  def capsDelta(before: Map[String, (Long, Long, Long)],
      after: Map[String, (Long, Long, Long)])
      : Map[String, (Long, Long, Long)] =
    after.flatMap { case (tag, (i1, d1, g1)) =>
      val (i0, d0, g0) = before.getOrElse(tag, (0L, 0L, 0L))
      val delta = (i1 - i0, d1 - d0, g1 - g0)
      if (delta == (0L, 0L, 0L)) None else Some(tag -> delta)
    }

  /** Render a per-query cap-engagement map as the `caps` JSON object
    * in BENCH_metrics: tag → cumulative (input_rows, dropped_rows,
    * capped_groups) deltas over the query's timed runs. Sorted for a
    * stable diff; `{}` when no cap observed anything. */
  def renderCaps(caps: Map[String, (Long, Long, Long)]): String =
    caps.toSeq.sortBy(_._1).map { case (tag, (i, d, g)) =>
      // a tag with a quote/backslash/control char would corrupt the
      // metrics JSON and silently break next round's parse-based
      // gates (r17 ADVICE) — escape, don't trust
      val t = tag.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s""""$t":{"input_rows":$i,"dropped_rows":$d,"capped_groups":$g}"""
    }.mkString("{", ",", "}")

  /** One numeric field per query from a BENCH_metrics-shaped json
    * (top-level map of query → metrics object). Queries missing the
    * field are skipped; a missing/unparseable file → empty map. */
  def parseMetricsField(json: Array[Byte],
      field: String): Map[String, Double] = try {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(json)
    val b = Map.newBuilder[String, Double]
    val it = root.fields()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue.get(field)
      if (v != null && v.isNumber) b += e.getKey -> v.asDouble()
    }
    b.result()
  } catch { case _: Throwable => Map.empty }

  /** Per-query seconds from a committed BENCH_full json (`queries`
    * field). Missing/unparseable file → empty map (first round, or a
    * fresh clone): the re-run pass then simply never triggers. */
  def loadRefMap(path: String): Map[String, Double] = try {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val qs = om.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))).get("queries")
    if (qs == null) Map.empty
    else {
      val b = Map.newBuilder[String, Double]
      val it = qs.fields()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }
  } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the same lazy execution mode as every library caller; the
    // operators' caches are this harness's to release (CacheOps.sweep
    // before every timed run)
    val spark = GraftSession.local()

    // Box-speed probe: the bench box is co-tenanted and same-code full
    // runs have varied 225–298 s within hours (PLANS.md r12). A fixed
    // single-thread integer loop — deterministic work, no allocation,
    // no I/O — run before and after the suite gives every BENCH_rN a
    // self-normalizing CPU baseline, so cross-round comparisons can
    // divide out box phase instead of guessing from wall-clock.
    def cpuProxySec(): Double = {
      var x = 0x9e3779b97f4a7c15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < 300000000) { // xorshift64*, ~0.5 s on an idle core
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        i += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (x == 0) System.err.println("unreachable") // defeat DCE
      sec
    }
    // The single-thread loop run on EVERY core concurrently: round 13
    // showed same-code closing runs at 343–349 s vs 288 s mid-session
    // with the single-thread proxy FLAT at ~0.61 s — host-level
    // co-tenancy squeezes parallel throughput without touching a lone
    // core, so normalization needs both axes. Reports the MEAN of the
    // per-thread times (the parallel-efficiency-degraded figure).
    def cpuProxyParSec(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val threads = (0 until n).map { _ =>
        new Thread(() => times.add(cpuProxySec()))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val ts = times.asScala.toSeq
      ts.sum / ts.size
    }
    // I/O-phase probe (round 19): the CPU probes can't see a host
    // I/O squeeze, and the fs-write query family (q31/q32/q33/q319 —
    // real partitioned parquet appends to scratch dirs) moves
    // COHERENTLY with one: this round's closing bench had the family
    // at 1.6–3.8x prior with shuffle byte-identical, CPU phase 1.4,
    // and disk-light queries recovering with the probe while the
    // ingest family stayed elevated in isolated re-runs. A fixed
    // small write+fsync loop — 64 × 64 KiB files, each force(true)d,
    // then deleted — sampled before and after the suite puts the I/O
    // axis in the artifact (`io_proxy_sec`), so an fs-family wall
    // move is adjudicable the same way a CPU phase is. Deliberately
    // NOT a normalizer (same policy as the phase factor's candidate
    // selection: probes adjudicate, they don't silently forgive).
    def ioProxySec(): Double = {
      import java.nio.file.Files
      val dir = Files.createTempDirectory("graft-ioprobe")
      val buf = java.nio.ByteBuffer.allocate(65536)
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < 64) {
          val p = dir.resolve(s"f$i")
          val ch = java.nio.channels.FileChannel.open(p,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try { buf.rewind(); ch.write(buf); ch.force(true) }
          finally ch.close()
          i += 1
        }
        (System.nanoTime() - t0) / 1e9
      } finally {
        try {
          val s = Files.list(dir)
          try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
          Files.deleteIfExists(dir)
        } catch { case _: Throwable => () }
      }
    }

    // Per-query shuffle/memory telemetry (r14 verdict #3): a plan
    // regression like r14's q203 (2.6× wall, 9× heap) should be
    // flagged by the artifact itself, not found by a judge diffing
    // JSONs. Shuffle bytes are the plan-shape signal wall-clock isn't:
    // they don't move with box phase, so >1.5× growth vs the prior
    // round's recording means the PLAN changed. Counters are sampled
    // as deltas around each run; the listener bus is async, so a
    // percent-level tail of a query's bytes can land on its successor
    // — fine for a 1.5× drift alarm.
    val shufRead = new java.util.concurrent.atomic.LongAdder
    val shufWrite = new java.util.concurrent.atomic.LongAdder
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            shufRead.add(m.shuffleReadMetrics.totalBytesRead)
            shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
            peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max)
          }
        }
      })

    val proxyPre = cpuProxySec()
    val proxyParPre = cpuProxyParSec()
    val ioPre = ioProxySec()

    // warmup: touch the parquet reader, shuffle machinery and the noop
    // sink once so the first measured query doesn't pay init costs
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().orderBy("r_name")
      .write.format("noop").mode("overwrite").save()

    // Each query is timed twice and the MIN is reported: repeated runs
    // showed a one-time ~45 s JVM/OS stall (GC / JIT / writeback) landing
    // on a random query mid-suite, which would misattribute environment
    // noise to whichever operator it hit. The min of two runs measures
    // the operator itself. Caches persisted inside a query function are
    // dropped between runs so the second run re-executes the full
    // pipeline rather than reading a leaked cache.
    // SPARK_GRAFT_ONLY=q24_minhash_lsh,q25_ngram_jaccard — optional
    // comma-separated filter for iterating on individual queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] SPARK_GRAFT_ONLY names match no query: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    if (selected.isEmpty)
      System.err.println("[bench] no queries selected — emitting empty run")

    // Filtered-iteration priming: in a full run the suite itself warms
    // every table's file/page cache, but under SPARK_GRAFT_ONLY the one
    // measured query absorbs the first-touch of every table it reads
    // (q1 runs 110th alphabetically in full suites yet paid first-touch
    // in one-query loops — r13 verdict item #8). Prime all contract
    // tables through the same adaptive loader the queries use, before
    // any timing starts.
    if (only.isDefined)
      Tables.all.foreach { n =>
        try Tables.load(spark, sfDir, n)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] prime $n failed: ${e.getMessage}")
        }
      }

    // Reference recordings for the outlier re-run pass: r7 entries are
    // the gate contract; the frozen r18 anchor covers the 133 queries
    // added since r7 (r18 verdict #7 — previously they fell back to
    // the MOVING prior round's full run, so their outlier selection
    // had no stable cross-round baseline); anything newer than r18
    // still falls back to the prior round.
    val r7Map = loadRefMap("BENCH_full_r07.json")
    val r18Map = loadRefMap("BENCH_full_r18.json")
    val refMap = loadRefMap("BENCH_full.json") ++ r18Map ++ r7Map

    // Cumulative JVM GC time — the per-query delta tells a positional
    // slowdown (GC trough from accumulated block storage) apart from a
    // genuinely expensive plan.
    import scala.jdk.CollectionConverters._
    def gcSec(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    // One measured run: sweep ALL session storage first (catalog cache
    // AND persisted RDDs — localCheckpoint blocks are invisible to
    // clearCache and otherwise linger until a GC-driven ContextCleaner
    // pass: the round-9/10 positional-cluster mechanism), then time the
    // query, then snapshot what it left behind in block storage. The
    // leaked_* figures count the operators' own caches and checkpoints
    // (operators return lazy results and leave release to the caller),
    // which the next run's sweep drops.
    // Heap actually RETAINED (live set after the last collection, from
    // the pools' collection-usage counters — free to read, no forced
    // GC): the r13 driver run showed per-query heap_mb drifting to
    // 19.4 GB, but that number includes garbage not yet collected;
    // this one distinguishes a cache plateau from a real drift.
    def heapAfterGcMb(): Long = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / (1024 * 1024)
    // Session storage-memory watermark: max block-storage footprint
    // observed at any post-query snapshot.
    var storageWatermark = 0L

    // streamDrains/WallSec/ExecSec: per-run StreamOps.DrainStats
    // delta (r18 verdict #6) — drains is 0 for every batch query;
    // for a streaming twin, wall−exec is micro-batch lifecycle
    // overhead (offset logs, WAL, state-store commits, trigger
    // scheduling) the operator does not control. Recorded per RUN
    // (the drain record is synchronous, unlike the listener-bus
    // counters) so the emitted figures pair with the reported sec.
    case class Run(sec: Double, gc: Double, leakedRdds: Int,
      leakedBytes: Long, heapMb: Long, heapAfterGc: Long,
      shufReadB: Long, shufWriteB: Long, peakMemB: Long,
      streamDrains: Long = 0L, streamWallSec: Double = 0.0,
      streamExecSec: Double = 0.0)
    // Cap-engagement telemetry per query (r16 verdict #7): the
    // CapMetrics truncation counters previously surfaced only as
    // stderr lines; riding BENCH_metrics lets a later round notice a
    // bomb-guard cap silently biting on real data. Cumulative per-tag
    // counters sampled as deltas around each query — totals cover
    // BOTH timed runs; the listener bus is async, so a tail can land
    // on the successor (same caveat as the shuffle counters).
    val capsByQuery =
      scala.collection.mutable.Map.empty[String, Map[String, (Long, Long, Long)]]
    val results = selected.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val caps0 = graft.operators.CapMetrics.cumulativeTotals()
        // a failed run records +Inf so min() only ever reports the time
        // of a SUCCESSFUL execution; a query failing on every run
        // surfaces as "failed" in the JSON instead of a bogus fast time
        val runs = (0 until 2).map { _ =>
          graft.operators.CacheOps.sweep(spark, blocking = true)
          val g0 = gcSec()
          val sr0 = shufRead.sum(); val sw0 = shufWrite.sum()
          val ds0 = graft.streaming.StreamOps.DrainStats.cumulative()
          peakTaskMem.set(0)
          val t0 = System.nanoTime()
          val sec = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Double.PositiveInfinity
          }
          // drain the async listener bus BEFORE sampling any counter:
          // shuffle/task-mem/cap events still in flight would land on
          // the next query's window (r18: a full cap observation of
          // q332's second run was attributed to q333 before this)
          org.apache.spark.graft.ListenerBridge
            .drain(spark.sparkContext, 5000)
          val infos = spark.sparkContext.getRDDStorageInfo
          val leaked = infos.map(i => i.memSize + i.diskSize).sum
          storageWatermark = math.max(storageWatermark, leaked)
          val rt = Runtime.getRuntime
          val ds1 = graft.streaming.StreamOps.DrainStats.cumulative()
          Run(sec, gcSec() - g0, infos.length, leaked,
            (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024),
            heapAfterGcMb(),
            shufRead.sum() - sr0, shufWrite.sum() - sw0,
            peakTaskMem.get(),
            ds1._1 - ds0._1, ds1._2 - ds0._2, ds1._3 - ds0._3)
        }
        val caps1 = graft.operators.CapMetrics.cumulativeTotals()
        capsByQuery(name) = capsDelta(caps0, caps1)
        name -> runs.minBy(_.sec)
    }

    // Outlier re-measurement pass (r13 verdict item #1): a co-tenancy
    // phase can outlast both back-to-back main-pass runs and poison the
    // ONE artifact the driver records — r13's official capture failed
    // the 2× gate at 2.74× while four same-code runs measured
    // 1.14–1.60×. Any query whose main-pass time exceeds
    // max(2× reference, 1 s) is re-run once at suite end, when the
    // phase has had the length of the suite to pass; the artifact
    // reports min-of-runs (the gate number) ALONGSIDE first-shot, and a
    // parallel CPU probe sampled immediately before each re-run puts
    // phase attribution in the artifact itself rather than in a
    // post-hoc adjudication. The symmetric failure is also covered: a
    // lucky first shot can't mask a regression, because a genuinely
    // slow query stays slow in the re-run and min-of-runs keeps it.
    case class Rerun(first: Double, rerun: Double, probe: Double)
    val firstShotSec = results.collect {
      case (k, r) if !r.sec.isInfinite => k -> r.sec }.toMap
    // Wall-drift candidates join the same suite-end re-run (r16): a
    // query that looks >1.5× slower than the prior round's committed
    // recording gets one isolated measurement, so a mid-suite phase
    // hit SELF-ADJUDICATES inside the artifact — min-of-runs recovers
    // and the final drift alarm only fires on drifts that survive an
    // isolated run. (First service round: q237 flagged at 4.24 s
    // in-suite, measured 1.89 s isolated by hand — this mechanizes
    // that A/B.) Selection normalizes by the PRE-probe only, the
    // post-probe not being measured yet; capped so a corrupt prior
    // file can't double the run.
    val priorFullMap = loadRefMap("BENCH_full.json")
    val priorParProbe: Double = try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = om.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_full.json"))).get("cpu_proxy_par_sec")
      if (arr != null && arr.isArray && arr.size() > 0) {
        var s = 0.0; var i = 0
        while (i < arr.size()) { s += arr.get(i).asDouble(); i += 1 }
        s / arr.size()
      } else 0.0
    } catch { case _: Throwable => 0.0 }
    // Candidate selection is deliberately UN-normalized (factor 1.0,
    // maximum sensitivity): the final alarm normalizes by the
    // full-session phase factor, which can come out LOWER than any
    // pre-run estimate when the box cools mid-suite — r16 session 4:
    // a pre-probe factor of 1.28 let q267/q268 skip the re-run that
    // the final 1.22-normalized alarm then flagged. An over-selected
    // candidate costs one cheap isolated run; an under-selected one
    // costs a false alarm.
    val driftCandidates = selectWallDrift(firstShotSec, priorFullMap, 1.0)
      .map(_._1).take(10)
    val outliers =
      (selectOutliers(firstShotSec, refMap) ++ driftCandidates).distinct
    val reruns: Map[String, Rerun] = outliers.map { name =>
      val probe = cpuProxyParSec()
      graft.operators.CacheOps.sweep(spark, blocking = true)
      val t0 = System.nanoTime()
      val sec = try {
        selected(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] rerun $name failed: ${e.getMessage}")
        Double.PositiveInfinity
      }
      name -> Rerun(firstShotSec(name), sec, probe)
    }.toMap
    if (reruns.nonEmpty)
      System.err.println(s"[bench] re-measured ${reruns.size} outliers: " +
        reruns.map { case (k, r) =>
          s"$k ${r.first}->${r.rerun} (par-probe ${r.probe})"
        }.mkString("; "))

    val proxyPost = cpuProxySec()
    val proxyParPost = cpuProxyParSec()
    val ioPost = ioProxySec()
    val failed = results.collect { case (k, r) if r.sec.isInfinite => k }
    // gate numbers are min-of-runs (main-pass min, improved by any
    // re-run); first-shot rides alongside in the `rerun` field
    def finalSec(name: String, r: Run): Double =
      reruns.get(name).map(x => math.min(r.sec, x.rerun)).getOrElse(r.sec)
    val ok = results.filter(!_._2.sec.isInfinite)
      .map { case (k, r) => k -> r.copy(sec = finalSec(k, r)) }
    val qs = ok.map { case (k, r) => "\"" + k + "\":" + r.sec }
      .mkString("{", ",", "}")
    val total = ok.map(_._2.sec).sum
    val gcTotal = ok.map(_._2.gc).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rerunJson = reruns.toSeq.sortBy(_._1).map { case (k, r) =>
      val re = if (r.rerun.isInfinite) "-1" else r.rerun.toString
      s""""$k":{"first":${r.first},"rerun":$re,"par_probe":${r.probe}}"""
    }.mkString("{", ",", "}")
    // failed_count rides next to value so a partial total (failures
    // excluded from the sum) can't be mistaken for a comparable full run
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"failed_count":${failed.size},"rerun":$rerunJson,"gc_sec":$gcTotal,"storage_watermark_mb":${storageWatermark / (1024 * 1024)},"cpu_proxy_sec":[$proxyPre,$proxyPost],"cpu_proxy_par_sec":[$proxyParPre,$proxyParPost],"io_proxy_sec":[$ioPre,$ioPost],"sf":"$sfDir"}"""
    // (drift detail is in stderr + BENCH_metrics; the count rides the
    // compact line so a regression is visible in the artifact itself)
    // Side-channel telemetry (separate file — the driver's console tail
    // truncates): per query, the measured run's GC seconds, how many
    // persisted RDDs and bytes it LEFT BEHIND in block storage (should
    // be 0 for a hygienic operator), and heap in use after it.
    def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0
    val metrics = results.map { case (k, r) =>
      val caps = renderCaps(capsByQuery.getOrElse(k, Map.empty))
      // drain-phase breakdown for the streaming twins (r18 verdict
      // #6): {} for batch queries, else the min-run's drain count,
      // total drain wall and its data-plane (addBatch) portion — a
      // wall move with exec_sec flat is trigger/lifecycle noise,
      // adjudicable from the artifact alone
      def s3(x: Double): Double = math.round(x * 1000) / 1000.0
      val stream = if (r.streamDrains == 0) "{}"
        else s"""{"drains":${r.streamDrains},"drain_sec":${s3(r.streamWallSec)},"exec_sec":${s3(r.streamExecSec)}}"""
      s""""$k":{"sec":${if (r.sec.isInfinite) -1 else r.sec},"gc_sec":${r.gc},"leaked_rdds":${r.leakedRdds},"leaked_bytes":${r.leakedBytes},"heap_mb":${r.heapMb},"heap_after_gc_mb":${r.heapAfterGc},"shuffle_read_mb":${mb(r.shufReadB)},"shuffle_write_mb":${mb(r.shufWriteB)},"peak_task_mem_mb":${mb(r.peakMemB)},"caps":$caps,"stream":$stream}"""
    }.mkString("{", ",", "}")

    // Shuffle-drift alarm vs the prior round's committed recording: a
    // query whose shuffle volume grew >1.5× (on ≥1 MB priors — tiny
    // control-plane queries jitter) changed PLAN, whatever the clock
    // says. Printed to stderr so the driver log carries the list even
    // though the console JSON stays compact.
    val (priorShuffle, priorHeap, priorTaskMem): (Map[String, Double],
        Map[String, Double], Map[String, Double]) = try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_metrics.json")))
      val b = Map.newBuilder[String, Double]
      val hb = Map.newBuilder[String, Double]
      val tb = Map.newBuilder[String, Double]
      val it = root.fields()
      while (it.hasNext) {
        val e = it.next()
        val rd = e.getValue.get("shuffle_read_mb")
        val wr = e.getValue.get("shuffle_write_mb")
        if (rd != null && wr != null)
          b += e.getKey -> (rd.asDouble() + wr.asDouble())
        val hg = e.getValue.get("heap_after_gc_mb")
        if (hg != null && hg.isNumber)
          hb += e.getKey -> hg.asDouble()
        val tm = e.getValue.get("peak_task_mem_mb")
        if (tm != null && tm.isNumber)
          tb += e.getKey -> tm.asDouble()
      }
      (b.result(), hb.result(), tb.result())
    } catch { case _: Throwable => (Map.empty, Map.empty, Map.empty) }
    val curShuffle = results.map { case (k, r) =>
      k -> (mb(r.shufReadB) + mb(r.shufWriteB)) }.toMap
    val curTaskMem =
      results.map { case (k, r) => k -> mb(r.peakMemB) }.toMap
    val drift = selectDrift(curShuffle, priorShuffle)
    if (drift.nonEmpty)
      System.err.println(s"[bench] SHUFFLE DRIFT >1.5x vs prior round: " +
        drift.map { case (k, p, c) => s"$k ${p}->${c} MB" }.mkString("; "))
    // Wall + heap drift alarms (r15 verdict #1): the alarm set the
    // shuffle alarm can't see. Wall priors come from the prior round's
    // committed BENCH_full (final min-of-runs, same basis as `ok`),
    // phase-normalized by the ratio of parallel CPU probes — the prior
    // run's recorded mean vs this run's mean — so a slow box phase is
    // forgiven instead of flagged. Heap priors come from BENCH_metrics.
    // Because drift candidates were re-run above, `ok` already holds
    // their isolated mins: only drifts that SURVIVED that measurement
    // can fire here.
    val curParProbe = (proxyParPre + proxyParPost) / 2.0
    val phaseFactor =
      if (priorParProbe > 0 && curParProbe > 0) curParProbe / priorParProbe
      else 1.0
    // the final alarm is corroborated by the plan-attributable
    // signals (r17 verdict #2): flat shuffle + flat task-mem + a move
    // inside the observed ~1 s noise window exonerate; candidate
    // selection above stays un-corroborated (an over-selected
    // candidate costs one cheap isolated re-run, not a false alarm)
    val wallDrift = selectWallDrift(
      ok.toMap.map { case (k, r) => k -> r.sec },
      priorFullMap, phaseFactor,
      curShuffle, priorShuffle, curTaskMem, priorTaskMem)
    def d2(x: Double): Double = math.round(x * 100) / 100.0
    if (wallDrift.nonEmpty)
      System.err.println(
        s"[bench] WALL DRIFT >1.5x vs prior round (phase factor ${d2(phaseFactor)}): " +
        wallDrift.map { case (k, p, c) => s"$k ${d2(p)}->${d2(c)} s" }.mkString("; "))
    // heap drift is task-mem-corroborated (r16 verdict #1): the 86
    // flags in the r16 artifact were one collector plateau the median
    // cancel couldn't absorb — execution memory is the signal that
    // separates a real working-set regression from session noise
    // ceiling-path flags then pass the session-uniformity split (r18
    // verdict #1): a ≥8-query contiguous tight-band stretch is ONE
    // session plateau, not that many driver regressions
    val (heapDrift, heapPlateaus) = splitHeapPlateau(
      selectHeapDrift(
        results.map { case (k, r) => k -> r.heapAfterGc.toDouble }.toMap,
        priorHeap, curTaskMem, priorTaskMem),
      results.map(_._1))
    if (heapDrift.nonEmpty)
      System.err.println(s"[bench] HEAP DRIFT >4x (task-mem corroborated) vs prior round: " +
        heapDrift.map { case (k, p, c) => s"$k ${p.toLong}->${c.toLong} MB" }.mkString("; "))
    if (heapPlateaus.nonEmpty)
      System.err.println("[bench] HEAP PLATEAU (session artifact, ceiling " +
        "flags cancelled per-query): " + heapPlateaus.map { run =>
          val vs = run.map(_._3)
          s"${run.size} queries in ${vs.min.toLong}-${vs.max.toLong} MB " +
            s"band, ${run.head._1}..${run.last._1}"
        }.mkString("; "))
    // Peak-task-memory drift: the query-attributable memory alarm —
    // execution memory carries none of retained heap's collector
    // noise, so the plain 2x paired gate applies.
    val taskMemDrift = selectTaskMemDrift(curTaskMem, priorTaskMem)
    if (taskMemDrift.nonEmpty)
      System.err.println(s"[bench] TASK-MEM DRIFT >2x vs prior round: " +
        taskMemDrift.map { case (k, p, c) => s"$k ${p}->${c} MB" }.mkString("; "))
    // Filtered iteration runs must not clobber the committed FULL-run
    // records — divert their file output unless explicitly pointed
    // somewhere (the console JSON is unaffected).
    val filteredDefault =
      if (only.isDefined) "/tmp/BENCH_partial" else ""
    val metricsFile = sys.env.getOrElse("SPARK_GRAFT_METRICS_OUT",
      s"${filteredDefault}BENCH_metrics.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(metricsFile),
      (metrics + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $metricsFile: ${e.getMessage}")
    }
    // The driver keeps only the LAST ~2000 console chars: the full
    // per-query line (≈14 KB at 260 queries) gets front-truncated into
    // unparseable JSON (BENCH_r10/r11 both record parsed:null). Print a
    // compact line that FITS — total + failures + GC + the slowest
    // queries that fit the budget + the r7-overlap gate ratio computed
    // here from BENCH_full_r07.json — and point at BENCH_full.json for
    // the complete map.
    // locale-free fixed-decimal rendering (Double.toString never emits
    // comma decimals, unlike Formatter under de_DE-style locales)
    def r1(x: Double): String = (math.round(x * 10) / 10.0).toString
    def r2(x: Double): String = (math.round(x * 100) / 100.0).toString
    // the gate ratio is computed from per-query MINS (main-pass min
    // improved by any outlier re-run); ratio_first is the
    // single-shot figure the pre-r14 harness would have recorded —
    // the pair makes a host phase visible in the artifact itself.
    // NOT the f-interpolator: Formatter uses the default locale,
    // and a comma-decimal locale (de_DE…) would re-break the very
    // json.loads this line exists to satisfy
    def overlapField(tag: String, ref: Map[String, Double]): String = {
      val now = ok.toMap
      var (a, aFirst, b, n) = (0.0, 0.0, 0.0, 0)
      ref.foreach { case (k, refSec) =>
        now.get(k).foreach { r =>
          a += r.sec; aFirst += firstShotSec.getOrElse(k, r.sec)
          b += refSec; n += 1
        }
      }
      if (b > 0)
        s""","${tag}_overlap":{"n":$n,"sec":${r1(a)},"${tag}_sec":${r1(b)},"ratio":${r2(a / b)},"first_sec":${r1(aFirst)},"ratio_first":${r2(aFirst / b)}}"""
      else ""
    }
    // r7 is THE gate; the frozen r18 anchor is the second overlap so
    // the 133 post-r7 queries also carry a stable cross-round ratio
    // (r18 verdict #7) — restricted to queries r7 does NOT cover, so
    // the two figures partition the suite instead of double-counting
    val overlapJson = overlapField("r7", r7Map) +
      overlapField("r18", r18Map.view.filterKeys(k => !r7Map.contains(k)).toMap)
    val budget = 1700 // chars; sbt's [success] trailer rides in the same tail
    val slowest = ok.sortBy(-_._2.sec)
    val head = s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","queries_total":${ok.size},"failed":$failedJson,"failed_count":${failed.size},"rerun_count":${reruns.size},"shuffle_drift_count":${drift.size},"wall_drift_count":${wallDrift.size},"heap_drift_count":${heapDrift.size},"heap_plateau_count":${heapPlateaus.size},"task_mem_drift_count":${taskMemDrift.size},"phase_factor":${d2(phaseFactor)},"gc_sec":${math.round(gcTotal * 10) / 10.0},"cpu_proxy_sec":[${r2(proxyPre)},${r2(proxyPost)}],"cpu_proxy_par_sec":[${r2(proxyParPre)},${r2(proxyParPost)}],"io_proxy_sec":[${r2(ioPre)},${r2(ioPost)}]$overlapJson,"sf":"$sfDir","full":"BENCH_full.json","queries":"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = head.length + 2
    // an HONEST prefix of the slowest ordering: stop at the first
    // entry that doesn't fit — admitting later (faster) queries after
    // a skip would make a missing slow query read as "got faster"
    val it2 = slowest.iterator
    var full = false
    while (it2.hasNext && !full) {
      val (k, r) = it2.next()
      val e = s""""$k":${r2(r.sec)}"""
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
      else full = true
    }
    val line = head + entries.mkString("{", ",", "}") + "}"
    // BENCH_r02/r03 prove the failure mode precisely: the COMPLETE line
    // was inside the captured tail yet still parsed:null — sbt's
    // in-process run wraps System.out and prefixes every line with
    // "[info] ", which breaks a per-line json.loads. Write straight to
    // fd 1, bypassing sbt's logger, so the console carries one clean
    // unprefixed JSON line.
    val raw = new java.io.FileOutputStream(java.io.FileDescriptor.out)
    raw.write((line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    raw.flush()
    // Also persist the FULL per-query map: the driver's console tail
    // truncates to ~2 KB, which silently drops the first ~90 entries —
    // round-over-round comparison needs every query's time on disk.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"${filteredDefault}BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
